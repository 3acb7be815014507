"""Size-gated single-task kernels for the TPC-H-shaped bench rows
(guide §1.2/§4.2).

At bench scale every TPC-H row is dominated by a SINGLE-TASK parquet
scan (the test files are one row group — unsplittable, like a gzip
input) followed by per-row java BigDecimal arithmetic: tpch_q1's
exact-decimal aggregate measured 1.23 s warm while the identical scan
with plain double sums took 0.30 s — ~0.9 s of the row is
precision-38 multiply/add on one core. Below ``LOCAL_TPCH_ROWS`` the
whole aggregate runs as ONE task (``operators.single_task``) doing
the SAME math on integers (every decimal here is a scaled integer,
and Python ints never overflow), which is both exact and ~10x faster
than BigDecimal.
Above the gate the distributed plans are byte-unchanged — at 100 TB
the scan splits normally and the decimal aggregate parallelizes, so
the kernels never fire there.

Exactness argument, used by every helper below:

* ``cast(double AS decimal(18,4))`` in Spark is HALF_UP quantization
  of the double's SHORTEST DECIMAL REPR (``Decimal.set(double)`` goes
  through ``BigDecimal.valueOf`` = ``Double.toString``); python's
  ``repr`` produces the same shortest form, so
  ``Decimal(repr(x)).quantize(1e-4, HALF_UP)`` is bit-identical
  (the same equivalence the knn kernels rely on for ROUND).
* The vectorized fast path (:func:`_dec4_scaled`) avoids per-row
  Decimal objects when it can PROVE equality: if
  ``rint(x * 1e4) / 1e4 == x`` (both IEEE ops correctly rounded),
  then x is the nearest double of a 4-decimal value v, every decimal
  string that round-trips to x quantizes to v (any such string is
  within one ulp of v, and 4-decimal grid points are ~1e7 ulps
  apart), so the Spark cast yields exactly v. Rows that fail the
  proof (not 4-decimal money, NaN/Inf) take the per-element Decimal
  path, with non-finite mapping to NULL exactly as the non-ANSI cast
  does.
* decimal multiply/add with combined precision <= 38 never rounds in
  Spark (``(18,4) x (18,4) -> (37,8)``, ``(28,8) x (9,4) -> (38,12)``),
  so scaled-integer products/sums are the same numbers; ``ROUND(dec,
  2)`` is HALF_UP integer division on the unscaled value; ``cast(dec
  AS double)`` and python ``float(Decimal)`` are both correctly
  rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.operators import single_task

#: Fact-row ceiling for the single-task TPC-H kernels. 5M rows bounds
#: the Arrow transfer at ~200 MB and the kernel at well under a second
#: of integer numpy; the gates read the parquet footer row count (zero
#: jobs), so the 100 TB path takes the distributed plan for free.
LOCAL_TPCH_ROWS = 5_000_000

#: Proven-safe input magnitude bounds for :func:`tpch_q1_local`: the
#: kernel's ``ext_i * (10^4 - dis_i)`` product is numpy int64, and
#: decimal(18,4) in-type magnitudes (|x| up to ~1e14)
#: can silently wrap it, while the distributed decimal plan stays exact
#: there. Within these bounds (checked against parquet footer column
#: stats by the gate, and re-proven on the actual scaled ints inside
#: the kernel): |ext_i| <= 1e12, factor (1e4 + |dis_i|) <= ~1.01e6, so
#: |dp_i| <= ~1.01e18 < 2^63; the charge hi/lo split keeps each half
#: under 2^63; (1 + tax) stays inside decimal(9,4) and dp inside
#: decimal(28,8), so no distributed-plan cast overflows to NULL either;
#: and at <= 5M rows every SUM stays far inside decimal(38,_).
Q1_SAFE_ABS = {"l_extendedprice": 1e8, "l_discount": 1e2, "l_tax": 1e2}


def _dec_scaled(x_arr, valid, scale: int):
    """Spark ``cast(double AS decimal(18,scale))`` over a numpy float64
    array, returned as (scaled int64 array, null mask). Fast path is
    proven exact (module docstring); leftovers go through
    ``Decimal(repr(x))`` one by one."""
    import decimal

    import numpy as np

    mul = float(10**scale)
    with np.errstate(invalid="ignore", over="ignore"):
        i = np.rint(x_arr * mul)
        finite = np.isfinite(x_arr)
        proven = finite & (np.abs(i) < 2**53)
        # correctly-rounded division: equality proves x IS the nearest
        # double of the scale-digit value i/10^scale
        proven &= np.where(proven, (i / mul) == x_arr, False)
    out = np.where(proven, i, 0.0).astype(np.int64)
    null = ~valid
    slow = valid & ~proven
    if slow.any():
        q = decimal.Decimal(1).scaleb(-scale)
        limit = 10 ** (18 - scale)
        for idx in np.nonzero(slow)[0]:
            x = float(x_arr[idx])
            if x != x or x in (float("inf"), float("-inf")):
                null[idx] = True
                continue
            v = decimal.Decimal(repr(x)).quantize(
                q, rounding=decimal.ROUND_HALF_UP
            )
            iv = int(v.scaleb(scale))
            if abs(iv) >= limit * 10**scale:
                null[idx] = True  # decimal(18,s) overflow -> NULL (non-ANSI)
            else:
                out[idx] = iv
    return out, null


def _round_dec_to_double(unscaled: int, scale: int, round_to: int) -> float:
    """ROUND(decimal(:,scale), round_to)::DOUBLE on a python-int
    unscaled value: HALF_UP integer division then correctly-rounded
    float conversion — the exact Spark path."""
    import decimal

    drop = scale - round_to
    if drop > 0:
        p = 10**drop
        if unscaled >= 0:
            unscaled = (unscaled + p // 2) // p
        else:
            unscaled = -((-unscaled + p // 2) // p)
        scale = round_to
    return float(decimal.Decimal(unscaled).scaleb(-scale))


def _group_sums(order, bounds, scaled, null_mask):
    """Per-group exact sums of a scaled-int column as python ints
    (int64-overflow-proof via a 32-bit hi/lo split), skipping NULLs."""
    import numpy as np

    vals = scaled[order]
    ok = (~null_mask)[order].astype(np.int64)
    v = vals * ok  # nulls contribute 0
    hi = v >> 32
    lo = v & 0xFFFFFFFF
    hs = np.add.reduceat(hi, bounds)
    ls = np.add.reduceat(lo, bounds)
    return [int(h) * (1 << 32) + int(l) for h, l in zip(hs, ls)]


def tpch_q1_local(filtered_li: DataFrame) -> DataFrame:
    """Single-task TPC-H Q1 aggregate over the already-filtered
    lineitem scan (the shipdate predicate stays a Spark filter so it
    keeps pushing down to parquet). One task replaces the
    two-stage decimal hash aggregate; all money math is scaled-integer
    (exactness: module docstring); groups come back sorted by
    (l_returnflag, l_linestatus) — python str sort == Spark UTF8
    binary sort on these ASCII keys. Assumes the TPC-H contract the
    gate guards (non-null group keys; at least one non-null measure
    per group), like the knn kernels assume the embedding contract."""

    def body(t):
        import pyarrow as pa
        import numpy as np

        # dictionary-encode the group keys Arrow-side: integer codes +
        # a handful of distinct strings, instead of materializing 2n
        # python string objects (the same factorization trick the
        # louvain kernel uses, guide §4.2)
        rf_d = t.column("l_returnflag").chunk(0).dictionary_encode()
        ls_d = t.column("l_linestatus").chunk(0).dictionary_encode()
        rf_u = rf_d.dictionary.to_pylist()
        ls_u = ls_d.dictionary.to_pylist()
        rf_c = rf_d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        ls_c = ls_d.indices.to_numpy(zero_copy_only=False).astype(np.int64)

        def col(name):
            c = t.column(name).chunk(0)
            arr = c.to_numpy(zero_copy_only=False)  # NaN at nulls
            valid = ~pa.compute.is_null(c).to_numpy(zero_copy_only=False)
            return arr, valid

        qty, qty_ok = col("l_quantity")
        ext, ext_ok = col("l_extendedprice")
        dis, dis_ok = col("l_discount")
        tax, tax_ok = col("l_tax")
        qty_i, qty_null = _dec_scaled(qty, qty_ok, 4)
        ext_i, ext_null = _dec_scaled(ext, ext_ok, 4)
        dis_i, dis_null = _dec_scaled(dis, dis_ok, 4)
        tax_i, tax_null = _dec_scaled(tax, tax_ok, 4)
        # Magnitude guard: the multiplies below are int64 and
        # would silently wrap at in-type decimal(18,4) magnitudes (and
        # past the distributed plan's (9,4)/(28,8) cast headroom the
        # two paths diverge via overflow-to-NULL). The gate proves the
        # bound from footer column stats before choosing this kernel;
        # re-prove it here on the actual scaled ints so a bypassing
        # caller gets a loud error, never a wrapped sum.
        m_ext = int(np.abs(ext_i[~ext_null]).max(initial=0))
        m_dis = int(np.abs(dis_i[~dis_null]).max(initial=0))
        m_tax = int(np.abs(tax_i[~tax_null]).max(initial=0))
        i64 = 2**63 - 1
        dp_max = m_ext * (10**4 + m_dis)
        if (
            dp_max > i64
            or ((dp_max >> 20) + 1) * (10**4 + m_tax) > i64
            or (2**20 - 1) * (10**4 + m_tax) > i64
            or 10**4 + m_tax >= 10**9  # (1+tax) must fit decimal(9,4)
        ):
            raise ValueError(
                "tpch_q1_local: input magnitudes exceed the proven-safe "
                "int64 bound — the caller must take the distributed "
                "decimal aggregate (operators/relational.py Q1_SAFE_ABS)"
            )
        # disc_price (scale 8) / charge (scale 12): products of the
        # exact scaled ints; NULL if any factor is NULL (decimal mul)
        dp_i = ext_i * (10**4 - dis_i)
        dp_null = ext_null | dis_null
        # charge may exceed int64 after the second multiply: do it on
        # python ints inside the per-group sum via object dtype only
        # when needed — at <= 5M rows hi/lo splitting keeps it exact:
        # |dp_i| < 2^63 / 10^4 is NOT guaranteed, so split dp first.
        ch_hi = (dp_i >> 20) * (10**4 + tax_i)
        ch_lo = (dp_i & 0xFFFFF) * (10**4 + tax_i)
        ch_null = dp_null | tax_null

        # group codes over the dictionary indices
        codes = rf_c * len(ls_u) + ls_c
        order = np.argsort(codes, kind="stable")
        sorted_codes = codes[order]
        bounds = np.flatnonzero(
            np.r_[True, sorted_codes[1:] != sorted_codes[:-1]]
        )
        group_codes = sorted_codes[bounds]

        sums_qty = _group_sums(order, bounds, qty_i, qty_null)
        sums_ext = _group_sums(order, bounds, ext_i, ext_null)
        sums_dis = _group_sums(order, bounds, dis_i, dis_null)
        sums_dp = _group_sums(order, bounds, dp_i, dp_null)
        sums_ch_hi = _group_sums(order, bounds, ch_hi, ch_null)
        sums_ch_lo = _group_sums(order, bounds, ch_lo, ch_null)
        counts = np.diff(np.r_[bounds, len(order)])

        rows = []
        for gi, gc in enumerate(group_codes):
            key_rf = str(rf_u[gc // len(ls_u)])
            key_ls = str(ls_u[gc % len(ls_u)])
            cnt = int(counts[gi])
            s_ch = sums_ch_hi[gi] * (1 << 20) + sums_ch_lo[gi]
            sum_qty_d = _round_dec_to_double(sums_qty[gi], 4, 4)
            sum_ext_d = _round_dec_to_double(sums_ext[gi], 4, 4)
            rows.append((
                key_rf, key_ls,
                sum_qty_d,
                sum_ext_d,
                _round_dec_to_double(sums_dp[gi], 8, 2),
                _round_dec_to_double(s_ch, 12, 2),
                sum_qty_d / float(cnt),
                sum_ext_d / float(cnt),
                _round_dec_to_double(sums_dis[gi], 4, 4) / float(cnt),
                cnt,
            ))
        rows.sort(key=lambda r: (r[0], r[1]))
        return list(zip(*rows))

    return single_task(
        filtered_li.select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        ),
        body,
        "l_returnflag string, l_linestatus string, sum_qty double, "
        "sum_base_price double, sum_disc_price double, "
        "sum_charge double, avg_qty double, avg_price double, "
        "avg_disc double, count_order bigint",
    )


def lineitem_magnitudes_safe(sf_dir: str, cols=None) -> bool:
    """Prove the Q1_SAFE_ABS magnitude bounds for lineitem money columns
    from parquet footer statistics — zero Spark jobs (shared by the q1
    and bi-suppliers kernels). Missing stats, NaN/Inf bounds, or
    out-of-range values fail the proof (callers take the exact
    distributed decimal plan)."""
    from ut_data_engineering_group_project_2022_spark.catalog import (
        parquet_column_minmax,
    )

    for colname in cols if cols is not None else Q1_SAFE_ABS:
        bound = Q1_SAFE_ABS[colname]
        mm = parquet_column_minmax(sf_dir, "lineitem", colname)
        if mm is None:
            return False
        lo, hi = mm
        if not (-bound <= lo <= hi <= bound):  # False for NaN/Inf too
            return False
    return True


def grouped_measure_rank_local(
    feed: DataFrame,
    key_col: str,
    name_col: str,
    measure: str,
    value_cols: tuple,
    out_col: str,
) -> DataFrame:
    """Single-task tail shared by the bi_rank_* rows: one task
    replaces the grouped decimal/count aggregate (and
    its exchange) plus the gated global_dense_rank window. ``feed`` is
    the broadcast-join output projected to (key, name, *value_cols);
    the kernel groups by the (key, name) PAIR (never assumes dim-key
    uniqueness), computes the measure exactly, and applies Spark's
    DENSE_RANK ... ORDER BY measure DESC (ties equal; NULLS LAST,
    matching F.desc). Measures:

    - ``disc_revenue`` (l_extendedprice, l_discount):
      ROUND(SUM(dec(18,4) x (1 - dec(18,4))), 2)::DOUBLE via scaled
      ints — needs the Q1_SAFE_ABS magnitude proof (int64 headroom for
      the product); re-proven in-kernel, raises rather than wraps.
    - ``dec4_sum`` (one column): SUM(col::decimal(18,4))::DOUBLE.
      NO magnitude proof needed: there is no product (python-int sums
      are exact at any magnitude), the (18,4) cast overflows to NULL
      identically on both paths (_dec_scaled), and the distributed
      SUM's decimal(28,4) could only overflow past 10^10 rows — 2000x
      above LOCAL_TPCH_ROWS.
    - ``count_nonnull`` (one column): COUNT(col) as bigint (0 for
      all-null groups, exactly like the distributed COUNT).

    Callers gate on LOCAL_TPCH_ROWS (footer); the distributed groupBy +
    two-phase rank above the gate is byte-unchanged. Parity pinned by
    tests/test_local_kernels.py at the bench SFs + synthetics."""
    out_type = "bigint" if measure == "count_nonnull" else "double"

    def body(t):
        import numpy as np
        import pyarrow as pa

        n = t.num_rows

        def col(name):
            c = t.column(name).chunk(0)
            arr = c.to_numpy(zero_copy_only=False)
            valid = ~pa.compute.is_null(c).to_numpy(zero_copy_only=False)
            return arr, valid

        # per-row scaled-int contribution + null mask + output scale
        if measure == "disc_revenue":
            ext, ext_ok = col(value_cols[0])
            dis, dis_ok = col(value_cols[1])
            ext_i, ext_null = _dec_scaled(ext, ext_ok, 4)
            dis_i, dis_null = _dec_scaled(dis, dis_ok, 4)
            m_ext = int(np.abs(ext_i[~ext_null]).max(initial=0))
            m_dis = int(np.abs(dis_i[~dis_null]).max(initial=0))
            if m_ext * (10**4 + m_dis) > 2**63 - 1:
                raise ValueError(
                    "grouped_measure_rank_local: input magnitudes exceed "
                    "the proven-safe int64 bound — the caller must take "
                    "the distributed decimal aggregate (Q1_SAFE_ABS)"
                )
            v_i = ext_i * (10**4 - dis_i)
            v_null = ext_null | dis_null
            scale, round_to = 8, 2
        elif measure == "dec4_sum":
            x, x_ok = col(value_cols[0])
            v_i, v_null = _dec_scaled(x, x_ok, 4)
            scale, round_to = 4, 4
        elif measure == "count_nonnull":
            _, x_ok = col(value_cols[0])
            v_i = x_ok.astype(np.int64)
            v_null = np.zeros(n, bool)
            scale = round_to = None
        else:  # pragma: no cover
            raise ValueError(f"unknown measure {measure!r}")

        sk_c = t.column(key_col).chunk(0)
        sk = sk_c.to_numpy(zero_copy_only=False).astype(np.int64)
        nm_d = t.column(name_col).chunk(0).dictionary_encode()
        nm_names = nm_d.dictionary
        nm = nm_d.indices.to_numpy(zero_copy_only=False)
        # NULL names group together (Spark groupBy treats NULLs equal):
        # a nullable indices array arrives as float64 with NaN -> -1
        if nm.dtype.kind == "f":
            nm = np.where(np.isnan(nm), -1.0, nm)
        nm = nm.astype(np.int64)
        order = np.lexsort((nm, sk))
        sks, nms = sk[order], nm[order]
        bounds = np.flatnonzero(
            np.r_[True, (sks[1:] != sks[:-1]) | (nms[1:] != nms[:-1])]
        )
        sums = _group_sums(order, bounds, v_i, v_null)
        g_sk = sks[bounds]
        g_nm = nms[bounds]
        if measure == "count_nonnull":
            values = [int(s) for s in sums]
        else:
            # SUM is NULL only when every row in the group is NULL
            nn = (~v_null)[order].astype(np.int64)
            nn_counts = np.add.reduceat(nn, bounds)
            values = [
                _round_dec_to_double(s, scale, round_to) if c else None
                for s, c in zip(sums, nn_counts)
            ]
        # DENSE_RANK ORDER BY measure DESC (F.desc = NULLS LAST; ties
        # share a rank): rank = position among the sorted DISTINCT
        # non-null values, descending; NULLs rank after all
        nonnull = np.array(
            [v for v in values if v is not None],
            dtype=np.int64 if measure == "count_nonnull" else np.float64,
        )
        uniq = np.unique(nonnull)  # ascending
        k = len(uniq)
        rnk = [
            int(k - np.searchsorted(uniq, v, side="left"))
            if v is not None
            else k + 1
            for v in values
        ]
        names = nm_names.take(
            pa.array([int(x) if x >= 0 else None for x in g_nm], pa.int64())
        )
        return g_sk, names, values, rnk

    return single_task(
        feed,
        body,
        f"{key_col} bigint, {name_col} string, {out_col} {out_type}, rnk int",
    )
