"""Deterministic corpus sampling — the training-pipeline subsetting ops.

Spark's native ``sample()``/``sampleBy()`` draw from a per-partition RNG, so
results change with partitioning and can't be oracle-checked across engines.
These operators sample by KEY HASH instead: a row is kept iff
``md5(key) mod 100 < pct`` — the same decision on any engine, any
partitioning, any cluster size, and stable across reruns (the property a
resumable 100 TB pipeline actually needs: re-sampling after a retry must
select the same rows). md5 is the portable hash (bit-identical in Spark and
DuckDB); the first 8 hex digits give a uniform 32-bit draw.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _draw32(key: Column) -> Column:
    """The module's ONE portability-critical primitive: a uniform 32-bit
    integer draw from the row key (first 8 md5 hex digits — bit-identical
    in Spark and DuckDB). Every sampling decision derives from it."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("bigint")


def _bucket(key: Column) -> Column:
    """Uniform, engine-portable 0-99 bucket from the row key."""
    return _draw32(key) % 100


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum hash sampling (e.g. downsample dominant languages,
    keep the tail): ``rates`` maps stratum value → keep percentage."""
    pct = F.lit(default_pct)
    for value, p in rates.items():
        pct = F.when(F.col(strata_col) == value, F.lit(p)).otherwise(pct)
    return df.filter(_bucket(F.col(key_col)) < pct)


def temperature_resample(
    df: DataFrame, key_col: str, strata_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based stratum rebalancing (the XLM-R / mC4 multilingual
    recipe): keep each stratum at a rate proportional to ``count^(alpha-1)``
    so expected kept counts scale as ``count^alpha`` — alpha=1 keeps the
    natural distribution, alpha->0 equalizes strata. Rates are normalized
    so the stratum they favor most keeps 100% (for alpha<1 that is the
    SMALLEST stratum: dominant strata are downsampled, the tail is kept
    whole). Output adds a ``rate`` column (rounded 9dp so the pow/division
    result is engine-portable).

    A NULL stratum is a stratum like any other (counted, weighted, and
    matched null-safely), not silently dropped.

    Deterministic like everything in this module: the per-row draw is the
    same md5 32-bit primitive (_draw32) the other ops use, mapped to
    [0,1), so retries and other engines keep the same rows. Scale shape:
    stratum counts and the max weight are two tiny aggregates broadcast
    back; the corpus itself is one filter pass.
    """
    if "rate" in df.columns:
        raise ValueError("input already has a 'rate' column (the output name)")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_c"))
    weights = counts.select(
        strata_col, F.pow(F.col("_c").cast("double"), alpha - 1).alias("_w")
    )
    wmax = weights.agg(F.max("_w").alias("_wmax"))
    rates = (
        weights.crossJoin(F.broadcast(wmax))
        .select(
            F.col(strata_col).alias("_strata"),
            F.round(F.col("_w") / F.col("_wmax"), 9).alias("rate"),
        )
    )
    u = _draw32(F.col(key_col)).cast("double") / F.lit(4294967296.0)
    return (
        df.join(
            F.broadcast(rates),
            F.col(strata_col).eqNullSafe(F.col("_strata")),
        )
        .drop("_strata")
        .filter(u < F.col("rate"))
    )


def _hashed_grams(
    df: DataFrame,
    key_col: str,
    text_col: str,
    buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(key, bucket): one row per unigram/bigram OCCURRENCE (counts matter
    for DSIR's bag model), each hashed into ``buckets`` via the _draw32
    definition (first 8 md5 hex digits mod buckets).

    r6 execution (guide §4.2): the former pure-expression plan built the
    gram windows with per-token transform/slice/concat_ws expressions and
    evaluated one md5+hex-conv per OCCURRENCE (~5.5M at sf1.0, 2.4 s of
    the stream's cost) although the gram vocabulary is tiny next to the
    stream. The Arrow kernel tokenizes each document once and memoizes
    gram→bucket per task, emitting occurrences in the IDENTICAL per-doc
    order as the expression's explode (unigrams in token order, then
    bigrams) — order matters because per-doc float summation downstream
    accumulates in row order. Row set and order pinned against the
    retained expression twin (_hashed_grams_expr) by tests/test_dsir.py.
    Tokenization mirrors Catalyst split(text, ' ') (Java split limit -1
    == str.split(' ')); empty UNIGRAMS are dropped (the length(_g) > 0
    filter) while bigrams containing empty tokens survive, exactly as in
    the expression form."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    src = widen_narrow_scan(df).select(key_col, *carry_cols, text_col)
    in_schema = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [in_schema[key_col]]
        + [in_schema[c] for c in carry_cols]
        + [StructField("bucket", LongType())]
    )
    carries = list(carry_cols)

    def fn(batches):
        from hashlib import md5

        memo: dict = {}

        def b(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = int(md5(g.encode("utf-8")).hexdigest()[:8], 16) % buckets
                memo[g] = v
            return v

        for pdf in batches:
            keys, bks = [], []
            carry_out = {c: [] for c in carries}
            for row in zip(
                pdf[key_col], pdf[text_col], *(pdf[c] for c in carries)
            ):
                key, text, cvals = row[0], row[1], row[2:]
                if text is None:
                    continue
                if len(memo) > 4_000_000:  # bound per-task memo growth
                    memo.clear()
                toks = text.split(" ")
                gs = [b(t) for t in toks if t != ""]
                gs += [
                    b(toks[i] + " " + toks[i + 1])
                    for i in range(len(toks) - 1)
                ]
                keys.extend([key] * len(gs))
                bks.extend(gs)
                for c, v in zip(carries, cvals):
                    carry_out[c].extend([v] * len(gs))
            out = {key_col: keys}
            out.update(carry_out)
            out["bucket"] = bks
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema=out_schema)


def _hashed_grams_expr(
    df: DataFrame,
    key_col: str,
    text_col: str,
    buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reference formulation of :func:`_hashed_grams` (the r1-r5 pure
    expression gram-window explode + per-occurrence md5), kept as the
    cross-check twin the Arrow kernel is pinned against
    (tests/test_dsir.py) and as the DuckDB-oracle-shaped build. The gram
    windows come from dedup's shared builder so DSIR's gram space can
    never silently diverge from the dedup/decontamination one."""
    from granulate_char_ocr_spark.operators.dedup import _gram_windows_expr
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    uni = _gram_windows_expr(1, with_pos=False, distinct=False)
    bi = _gram_windows_expr(2, with_pos=False, distinct=False)
    return (
        widen_narrow_scan(df)
        .withColumn("_toks", F.split(F.col(text_col), " "))
        .select(
            key_col,
            *carry_cols,
            F.explode(F.expr(f"concat({uni}, {bi})")).alias("_g"),
        )
        .where(F.length("_g") > 0)
        .select(
            key_col,
            *carry_cols,
            (_draw32(F.col("_g")) % buckets).alias("bucket"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    key_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    target_predicate=None,
) -> DataFrame:
    """(key, n_grams, log_weight): DSIR importance weights (Xie et al.
    2023, 'Data Selection for Language Models via Importance Resampling').
    Bag-of-hashed-ngrams generative models (unigram + bigram occurrences
    hashed into ``buckets`` buckets, add-one smoothing) are fit on the
    target and raw corpora; a raw document's log importance weight is the
    sum over its gram occurrences of ln p_target(bucket)/p_raw(bucket)
    (rounded 6dp). Docs with no grams weigh 0.0.

    Scale shape: both models are AT MOST ``buckets`` rows regardless of
    corpus size (partial-aggregated counts), so the model join broadcasts;
    scoring is one gram explosion whose per-doc sum collapses map-side.
    The raw corpus itself is never shuffled at full width.

    r6 execution notes (guide §2.4 "remove shuffles outright" / §5):
    the gram-occurrence stream feeds both the raw model and the
    scoring aggregate, and r5's plan re-exploded and re-md5-hashed the
    raw corpus once per consumer (twice; three times counting the
    separate target explosion) because column pruning makes the
    branches' subtrees differ and defeats exchange reuse. The stream
    is now materialized ONCE with an in-query eager localCheckpoint
    (recomputed from parquet on every invocation — nothing persists
    across runs) and every consumer reads it. When the target corpus
    is a predicate slice of ``raw`` (pass ``target_predicate``;
    ``target`` may then be None), the target model derives from the
    SAME stream via a flag column, and both model count columns come
    out of one aggregation — a target-only bucket can then not exist,
    so the former full-outer model join collapses into that aggregate.
    Per-doc scoring still sums _lr per OCCURRENCE, so the numerics are
    exactly r5's; predicate-path == generic-path is pinned by
    tests/test_dsir.py.
    """
    if target is None and target_predicate is None:
        raise ValueError("need a target DataFrame or a target_predicate")
    if target_predicate is not None:
        raw = raw.withColumn(
            "_is_tgt", F.coalesce(target_predicate, F.lit(False))
        )
        g_raw = _hashed_grams(
            raw, key_col, text_col, buckets, carry_cols=("_is_tgt",)
        ).localCheckpoint(eager=True)
        mc = g_raw.groupBy("bucket").agg(
            F.count("*").alias("_cr"),
            F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("_ct"),
        )
    else:
        g_raw = _hashed_grams(raw, key_col, text_col, buckets).localCheckpoint(
            eager=True
        )
        ct = _hashed_grams(target, key_col, text_col, buckets).groupBy(
            "bucket"
        ).agg(F.count("*").alias("_ct"))
        cr = g_raw.groupBy("bucket").agg(F.count("*").alias("_cr"))
        mc = ct.join(cr, "bucket", "full_outer")
    # corpus-total gram counts as empty-partition window sums over the
    # joined model (<= buckets rows, each bucket once — a single-partition
    # window over a model-sized frame, NOT a nested-loop scalar cross-join)
    w_all = Window.partitionBy()
    model = mc.select(
        "bucket",
        (
            F.log(
                (F.coalesce("_ct", F.lit(0)) + 1)
                / (F.sum("_ct").over(w_all) + buckets)
            )
            - F.log(
                (F.coalesce("_cr", F.lit(0)) + 1)
                / (F.sum("_cr").over(w_all) + buckets)
            )
        ).alias("_lr"),
    )
    scored = (
        g_raw.join(F.broadcast(model), "bucket")
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("_lr"), 6).alias("log_weight"),
        )
    )
    return raw.select(key_col).join(scored, key_col, "left").select(
        key_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame | None,
    k: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
    target_predicate=None,
) -> DataFrame:
    """The resampling half of DSIR: Gumbel-top-k sampling WITHOUT
    replacement, proportional to the importance weight — sample_key =
    log_weight + Gumbel(0,1), keep the k largest. The Gumbel draw is
    deterministic from the row key (u = (_draw32 + 0.5) / 2^32,
    g = -ln(-ln(u))), so retries and other engines select the same rows.
    Returns the selected ``raw`` rows plus (n_grams, log_weight,
    sample_key).

    Scale shape: the top-k runs on the SLIM (key, weight) table — a
    TakeOrderedAndProject, no full sort — and only the k winners join
    back to ``raw`` (broadcast), so the full-width corpus never enters a
    shuffle or a sort.

    ``target_predicate`` (r6): when the target corpus is a predicate
    slice of ``raw``, pass the predicate instead of a target DataFrame
    and the weights derive everything from ONE gram explosion (see
    dsir_weights)."""
    w = dsir_weights(
        raw, target, key_col, text_col, buckets,
        target_predicate=target_predicate,
    )
    u = (_draw32(F.col(key_col)) + 0.5) / F.lit(4294967296.0)
    winners = (
        w.withColumn(
            "sample_key",
            F.round(F.col("log_weight") - F.log(-F.log(u)), 6),
        )
        .orderBy(F.col("sample_key").desc(), F.col(key_col))
        .limit(k)
    )
    return raw.join(F.broadcast(winners), key_col).orderBy(
        F.col("sample_key").desc(), F.col(key_col)
    )
