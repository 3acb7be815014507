"""Text ML operators: distributed train+score programs over document
frames (the statistical siblings of the heuristic signals in
functions/text.py). Reusable DataFrame-to-DataFrame transforms — the
query registry wires them to the `documents` table in plans/llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.operators import (
    column_list,
    single_task,
)


def langid_trigram(d: DataFrame) -> DataFrame:
    """Train per-language char-trigram profiles on ``d`` (doc_id, text,
    lang) and classify every row; see llm_langid_trigram. Exposed
    separately so closed-form tests can run it on hand-built corpora
    with real language separation (the synthetic documents table
    shares one vocabulary across langs, capping in-corpus accuracy)."""
    from pyspark.sql import Window as W

    low = F.lower("text")
    tg = F.when(
        F.length(low) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(low) - 2),
            lambda i: F.substr(low, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = d.select("doc_id", "lang", F.explode(tg).alias("g"))
    model = occ.groupBy(F.col("lang").alias("m_lang"), "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    nl = model.groupBy("m_lang").agg(F.sum("c").alias("n"))
    v = model.agg(F.countDistinct("g").alias("v"))
    lp = (
        model.join(F.broadcast(nl), "m_lang")
        .crossJoin(F.broadcast(v))
        .select(
            "m_lang",
            "g",
            F.round(
                F.log((F.col("c") + 1).cast("double") / (F.col("n") + F.col("v"))),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    floors = nl.crossJoin(F.broadcast(v)).select(
        "m_lang",
        F.round(F.log(F.lit(1.0) / (F.col("n") + F.col("v"))), 6)
        .cast("decimal(18,6)")
        .alias("fl"),
    )
    matched = (
        occ.join(lp, "g")
        .groupBy("doc_id", "lang", "m_lang")
        .agg(F.sum("logp").alias("sm"), F.count(F.lit(1)).alias("m"))
    )
    dt = occ.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("t"))
    # Unseen trigrams score the smoothing FLOOR ln(1/(n_l+V)) — without
    # this the argmax inverts (fewer matched terms = less negative sum).
    scored = (
        dt.crossJoin(F.broadcast(floors))
        .join(matched, ["doc_id", "m_lang"], "left")
        .select(
            "doc_id",
            dt["lang"].alias("lang"),
            "m_lang",
            (
                F.coalesce("sm", F.lit(0).cast("decimal(18,6)"))
                + (F.col("t") - F.coalesce("m", F.lit(0))) * F.col("fl")
            ).alias("s"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("m_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("m_lang").alias("predicted"),
            (F.col("m_lang") == F.col("lang")).alias("correct"),
        )
    )


#: Document ceiling for the single-task text-quality kernels: the
#: same bound as dedup.LOCAL_DEDUP_DOCS — below it the whole token ->
#: corpus-LM -> bucket program (llm_ccnet_buckets measured 11 Spark
#: jobs / 42 Exchange mentions for ~0.2 s of single-core work at sf0.1)
#: runs in ONE task (``operators.single_task``); above it the
#: class-level distributed plans (the 100 TB shapes) are unchanged.
LOCAL_TEXT_DOCS = 20_000


def _tokens_py(text):
    """Python replica of functions/text.py tokens() (F.split(trim(lower)))
    as a LIST: ASCII-space-only trim, java-\\s split KEEPING leading/
    trailing empty tokens (python re.split has exactly Spark's
    semantics, incl. '' -> ['']); None -> None (split(NULL) is NULL).
    Same parity notes as dedup._shingle_set_py, which is pinned on real
    data and a whitespace-edge synthetic."""
    import re

    if text is None:
        return None
    return re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))


def _round_half_up_int(x: float) -> int:
    """Spark ROUND(double, 0)::BIGINT: HALF_UP on the shortest decimal
    repr, then exact integral conversion."""
    import decimal

    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


def ccnet_buckets_local(d: DataFrame) -> DataFrame:
    """Single-task execution of the ENTIRE llm_ccnet_buckets program
    (corpus unigram LM -> per-doc milli-bit perplexity -> per-language
    integer terciles) for a corpus known to fit one executor (gated by
    the query builder at ``LOCAL_TEXT_DOCS``). Exactness: token counts
    and totals are integers; per-token logp replicates
    ROUND(log2(c/tt), 6)::DECIMAL(18,6) as a scale-6 integer via the
    shortest-repr HALF_UP equivalence (log2 = math.log(x)/math.log(2),
    the same formula Spark's Log2 evaluates; parity pinned bit-equal on
    real data at three SFs); per-doc sums are exact integer decimal
    sums; ppl_milli replays the -1000*s/n_tok double expression with
    the same IEEE ops and HALF_UP; tercile assignment is pure integer
    arithmetic. NULL text contributes no token rows (explode of NULL),
    so such docs are absent from the output — as distributed."""
    idt = d.schema["doc_id"].dataType.simpleString()

    def body(t):
        import decimal
        import math
        from collections import Counter

        ids, langs, toks_all = [], [], []
        for i, lg, x in zip(
            column_list(t, "doc_id"), column_list(t, "lang"), column_list(t, "text")
        ):
            toks = _tokens_py(x)
            if toks is None:
                continue  # explode(NULL) drops the doc
            ids.append(i)
            langs.append(None if lg is None else str(lg))
            toks_all.append(toks)
        cf = Counter()
        for toks in toks_all:
            cf.update(toks)
        tt = float(sum(cf.values()))
        q6 = decimal.Decimal("0.000001")
        log2den = math.log(2.0)
        logp_i6: dict = {}

        def logp_of(c: int) -> int:
            v = logp_i6.get(c)
            if v is None:
                x = math.log(float(c) / tt) / log2den
                v = int(
                    decimal.Decimal(repr(x))
                    .quantize(q6, rounding=decimal.ROUND_HALF_UP)
                    .scaleb(6)
                )
                logp_i6[c] = v
            return v

        out_id, out_lang, out_ppl = [], [], []
        cls: dict = {}
        for did, lg, toks in zip(ids, langs, toks_all):
            # NULL-lang docs feed the corpus LM (their tokens are in
            # cf/tt) but drop out of the output: every downstream step
            # equi-joins on lang, and NULL never equi-matches — same in
            # the distributed plan and the DuckDB oracle (USING join).
            if lg is None:
                continue
            s_i6 = sum(logp_of(cf[t]) for t in toks)
            n_tok = len(toks)
            s_d = float(decimal.Decimal(s_i6).scaleb(-6))
            ppl = _round_half_up_int(-1000.0 * s_d / n_tok)
            out_id.append(did)
            out_lang.append(lg)
            out_ppl.append(ppl)
            cls[(lg, ppl)] = cls.get((lg, ppl), 0) + 1
        # per-language cumulative class counts -> integer terciles
        by_lang: dict = {}
        for (lg, ppl), cnt in cls.items():
            by_lang.setdefault(lg, []).append((ppl, cnt))
        bucket: dict = {}
        for lg, pairs in by_lang.items():
            pairs.sort()
            n_l = sum(c for _, c in pairs)
            c_before = 0
            for ppl, cnt in pairs:
                if 3 * c_before < n_l:
                    b = "head"
                elif 3 * c_before < 2 * n_l:
                    b = "middle"
                else:
                    b = "tail"
                bucket[(lg, ppl)] = b
                c_before += cnt
        out_b = [bucket[(lg, p)] for lg, p in zip(out_lang, out_ppl)]
        return out_id, out_lang, out_ppl, out_b

    return single_task(
        d.select("doc_id", "lang", "text"),
        body,
        f"doc_id {idt}, lang string, ppl_milli bigint, bucket string",
    )


def span_dedup_rebuild_local(d: DataFrame) -> DataFrame:
    """Single-task execution of llm_span_dedup_rebuild (16-token span
    chunking -> global first-occurrence keep (min (doc_id, pos)) ->
    per-doc rebuild) for a corpus known to fit one executor. All-
    integer/string program — no float anywhere — so exactness is
    structural; the one subtlety is NULL text: size(NULL) is NULL, so
    n_chunks is NULL and the doc contributes no chunks but keeps its
    output row (the distributed LEFT join), with n_kept 0 and '' text."""
    idt = d.schema["doc_id"].dataType.simpleString()

    def body(t):
        ids = column_list(t, "doc_id")
        toks_all = [_tokens_py(x) for x in column_list(t, "text")]
        # chunks + global first occurrence (min (doc_id, pos) per chunk)
        first: dict = {}
        chunks_per_doc: dict = {}
        for did, toks in zip(ids, toks_all):
            if toks is None:
                continue
            n_chunks = -(-len(toks) // 16)
            lst = []
            for pos in range(n_chunks):
                ch = " ".join(toks[pos * 16 : pos * 16 + 16])
                lst.append(ch)
                cur = first.get(ch)
                if cur is None or (did, pos) < cur:
                    first[ch] = (did, pos)
            chunks_per_doc[did] = lst
        out_id, out_nc, out_nk, out_txt = [], [], [], []
        for did, toks in zip(ids, toks_all):
            if toks is None:
                out_id.append(did)
                out_nc.append(None)
                out_nk.append(0)
                out_txt.append("")
                continue
            lst = chunks_per_doc[did]
            kept = [
                ch
                for pos, ch in enumerate(lst)
                if first[ch] == (did, pos)
            ]
            out_id.append(did)
            out_nc.append(len(lst))
            out_nk.append(len(kept))
            out_txt.append(" ".join(kept))
        return out_id, out_nc, out_nk, out_txt

    return single_task(
        d.select("doc_id", "text"),
        body,
        f"doc_id {idt}, n_chunks bigint, n_kept bigint, text_dedup string",
    )
