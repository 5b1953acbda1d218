"""Behavioral tests for dedup / similarity / textstats operators on corpora
with planted duplicates and known vectors (the oracle harness checks engine
parity; these check the semantics are the intended ones)."""

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (1, base),
        (2, base),                         # exact dup of 1
        (3, near),                         # near dup of 1 (one word differs)
        (4, "completely different content with no overlap whatsoever here"),
        (5, "short text"),                 # < 3 tokens after shingling edge
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_clusters(spark, docs):
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1+2 collapse, keeper is min(doc_id)
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0                       # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_lsh_catches_exact_and_near(spark, docs):
    cands = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in cands                # identical signatures always collide
    assert not any(4 in p for p in cands)


def test_simhash_properties(spark, docs):
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert s[1] == s[2]                   # identical text → identical simhash
    hd13 = bin(s[1] ^ s[3]).count("1")
    hd14 = bin(s[1] ^ s[4]).count("1")
    assert hd13 < hd14                    # near-dup closer than unrelated
    assert all(0 <= v < (1 << 16) for v in s.values())


def test_cosine_topk_identity_neighbor(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # same direction as 0 → sim 1.0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [0.9, 0.1, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(emb, n_queries=1, k=3).collect()
    ranked = [(r["neighbor_id"], r["sim"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == (1, 1.0)
    assert ranked[1][0] == 3
    assert ranked[2] == (2, 0.0)


def test_ivf_prunes_to_cell(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [2.0, 1.0, 1.0, 1.0]),       # same sign cell
        (2, [-1.0, 1.0, 1.0, 1.0]),      # different cell → invisible to q0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.ivf_topk(emb, n_queries=1, k=5).collect()
    assert {r["neighbor_id"] for r in out} == {1}


def test_lang_id_und_and_en(spark):
    d = spark.createDataFrame(
        [(1, "the cat and the hat is of note"), (2, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in textstats.lang_id(d).collect()}
    assert out[1] == "en" and out[2] == "und"


def test_token_count_and_fingerprint(spark):
    d = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    r = textstats.token_count(d).collect()[0]
    assert r["n_tokens"] == 3 and r["n_types"] == 2
    d2 = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], "doc_id long, text string"
    )
    fps = [r["fp"] for r in textstats.fingerprint(d2).orderBy("doc_id").collect()]
    assert fps[0] == fps[1]   # case/whitespace-insensitive


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + w - 1 (= 8 at k=5, w=4) share at least one fingerprint;
    too-short docs emit none."""
    d = spark.createDataFrame(
        [
            (1, "xxxx the common passage yyyy"),
            (2, "zz the common passage qq"),
            (3, "completely different words here"),
            (4, "tiny"),  # < k + w - 1 chars -> no fingerprints
        ],
        "doc_id long, text string",
    )
    rows = textstats.winnow_fingerprints(d).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]          # shared passage -> shared fingerprint
    assert not (fps[1] & fps[3])    # disjoint text -> disjoint prints
    assert 4 not in fps


def test_bpe_token_count_splits_subwords(spark):
    d = spark.createDataFrame(
        [(1, "hello world"), (2, "can't stop-me 123x")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_ws_tokens"])
        for r in textstats.bpe_token_count(d).collect()
    }
    assert got[1] == (2, 2)  # "hello", " world"
    # "can", "'", "t", " stop", "-", "me", " 123", "x"
    assert got[2] == (8, 3)


def test_multiprobe_recall_at_least_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe's, so every
    query's top-1 similarity is >= the single-probe top-1."""
    from granulate_char_ocr_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = {
        (r["query_id"], r["rank"]): r["sim"]
        for r in similarity.ivf_topk(emb, n_queries=5).collect()
    }
    multi = {
        (r["query_id"], r["rank"]): r["sim"]
        for r in similarity.ivf_topk_multiprobe(emb, n_queries=5).collect()
    }
    for q in {k[0] for k in one}:
        assert multi[(q, 1)] >= one[(q, 1)]


def test_hash_sample_partitioning_invariant(spark):
    """The sample decision depends only on the key: any repartitioning
    selects the identical row set (RNG sample() cannot promise this)."""
    from granulate_char_ocr_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def kept(df):
        s = stratified_sample(df, "doc_id", "lang", {}, default_pct=10)
        return {r["doc_id"] for r in s.collect()}

    a = kept(docs)
    assert a == kept(docs.repartition(17, "lang")) and 0 < len(a) < docs.count()
    s = stratified_sample(docs, "doc_id", "lang", {"en": 0}, default_pct=100)
    langs = {r["lang"] for r in s.select("lang").distinct().collect()}
    assert "en" not in langs and len(langs) >= 2


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (diameter > 1 — exercises multiple propagation
    rounds), a separate pair, and keeper-selection semantics."""
    from granulate_char_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(3, 2), (2, 1), (1, 0), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}
    keepers = {n for n, c in got.items() if n == c}
    assert keepers == {0, 10}


def test_connected_components_raises_without_convergence(spark):
    import pytest as _pytest

    from granulate_char_ocr_spark.operators.dedup import connected_components

    # a 5-node path needs >1 iteration; max_iter=1 must refuse, not lie
    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=1)


def test_lang_id_mixed_language_fixture(spark):
    """Accuracy pin for the top-50 stopword marker sets (VERDICT r2 item 9):
    real sentences in each supported language, lowercase, must all classify
    correctly — including es/fr, whose function words overlap heavily
    ('la', 'de'), which the 4-word toy sets could not separate."""
    sentences = [
        (1, "en", "the quick brown fox jumped over the lazy dog and it was not seen again"),
        (2, "en", "we have been there before but they will not say what all of this is about"),
        (3, "es", "el perro corre por la calle y no se detiene porque tiene mucha prisa"),
        (4, "es", "la casa de mi abuela es muy grande pero no hay nadie que viva en ella"),
        (5, "fr", "le chien court dans la rue et il ne veut pas revenir avec nous ce soir"),
        (6, "fr", "cette maison est plus grande que les autres mais elle ne nous plaît pas"),
        (7, "de", "der hund läuft auf der straße und er will nicht mit uns nach hause gehen"),
        (8, "de", "das haus ist sehr groß aber es gibt niemanden der darin wohnen möchte"),
        (9, "und", "zzz qqq kwyjibo flurble"),
    ]
    d = spark.createDataFrame(
        [(i, t) for i, _, t in sentences], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in textstats.lang_id(d).collect()}
    for i, expect, _ in sentences:
        assert out[i] == expect, (i, out[i], expect)


# ------------------------------------------- duplicated-passage (ExactSubstr)


def test_duplicated_passage_stats_semantics(spark):
    from granulate_char_ocr_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the window 'a b c'; doc 1 also has it at
            # two OVERLAPPING positions (a b c a b c -> windows at 0 and 3,
            # plus 'b c a'/'c a b' which occur once each)
            (1, "a b c a b c"),
            (2, "x a b c y"),
            (3, "p q r s t"),  # all windows unique -> 0
            (4, "to sh"),  # shorter than n -> no windows, 0
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in dedup.duplicated_passage_stats(docs, n=3).collect()
    }
    # doc 1: 'a b c' at pos 0 and 3 -> union [0,3)+[3,6) = 6 of 6 tokens
    assert out[1] == (6, 6, 1.0)
    # doc 2: 'a b c' at pos 1 -> [1,4) = 3 of 5
    assert out[2] == (5, 3, 0.6)
    assert out[3] == (5, 0, 0.0)
    assert out[4] == (2, 0, 0.0)
    assert len(out) == 4  # every doc reported


def test_duplicated_passage_overlap_not_double_counted(spark):
    from granulate_char_ocr_spark.operators import dedup

    # 'a a a a a' (n=3): windows 'a a a' at pos 0,1,2 all duplicated ->
    # union [0,5) = 5, NOT 9
    docs = spark.createDataFrame(
        [(1, "a a a a a")], "doc_id bigint, text string"
    )
    [r] = dedup.duplicated_passage_stats(docs, n=3).collect()
    assert (r["n_tokens"], r["dup_tokens"]) == (5, 5)


def test_duplicated_passage_duckdb_parity(spark):
    """Full replica over the real docs at n=3 (the tiny vocab makes
    duplicated 3-grams common, so the metric is non-vacuous)."""
    import duckdb

    from granulate_char_ocr_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in dedup.duplicated_passage_stats(
            spark.read.parquet(f"{sf}/documents.parquet"), n=3
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        gw AS (
          SELECT doc_id, unnest(list_transform(
              range(0, greatest(len(toks) - 2, 0)),
              i -> {'pos': i,
                    'g': array_to_string(list_slice(toks, i+1, i+3), ' ')}
            )) AS w
          FROM t),
        g AS (SELECT doc_id, w['pos'] AS pos, w['g'] AS g FROM gw),
        dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
        hits AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        cov AS (
          SELECT doc_id, pos,
                 greatest(0, pos + 3 - greatest(
                   coalesce(max(pos + 3) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
                   pos)) AS new_cov
          FROM hits),
        c AS (SELECT doc_id, sum(new_cov) AS dup_tokens FROM cov GROUP BY 1)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
               CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(c.dup_tokens, 0) /
                     greatest(len(string_split(d.text, ' ')), 1), 6)
        FROM documents d LEFT JOIN c USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want
    assert sum(v[1] for v in got.values()) > 0


# ----------------------------------------------- temperature resampling


def test_temperature_resample_rebalances(spark):
    from granulate_char_ocr_spark.operators.sampling import (
        temperature_resample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    before = {
        r["lang"]: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    out = temperature_resample(docs, "doc_id", "lang", alpha=0.5)
    rates = {
        r["lang"]: r["rate"] for r in out.select("lang", "rate").distinct().collect()
    }
    after = {
        r["lang"]: r["count"]
        for r in out.groupBy("lang").count().collect()
    }
    smallest = min(before, key=before.get)
    # the smallest stratum is kept whole (rate 1.0), dominant strata cut
    assert rates[smallest] == 1.0
    assert after[smallest] == before[smallest]
    for lang, c in before.items():
        if lang != smallest:
            assert rates[lang] < 1.0
    # kept fraction tracks the rate (binomial tolerance on small strata)
    for lang, r in rates.items():
        frac = after.get(lang, 0) / before[lang]
        assert abs(frac - r) < 0.25, (lang, frac, r)


def test_temperature_resample_alpha_one_keeps_everything(spark):
    from granulate_char_ocr_spark.operators.sampling import (
        temperature_resample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = temperature_resample(docs, "doc_id", "lang", alpha=1.0)
    # alpha=1: every weight is count^0 = 1 -> rate 1.0 -> natural dist
    assert out.count() == docs.count()


def test_temperature_resample_duckdb_parity(spark):
    import duckdb

    from granulate_char_ocr_spark.operators.sampling import (
        temperature_resample,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_id"], r["lang"], r["rate"])
        for r in temperature_resample(
            spark.read.parquet(f"{sf}/documents.parquet"),
            "doc_id",
            "lang",
            alpha=0.5,
        )
        .select("doc_id", "lang", "rate")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(
            """
        WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        w AS (SELECT lang, power(c, -0.5) AS w FROM c),
        r AS (SELECT lang, round(w / (SELECT max(w) FROM w), 9) AS rate
              FROM w)
        SELECT d.doc_id, d.lang, r.rate
        FROM documents d JOIN r USING (lang)
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < r.rate
        """
        ).fetchall()
    }
    assert got == want
    assert len(got) > 0


def test_temperature_resample_null_stratum_and_guards(spark):
    from granulate_char_ocr_spark.operators.sampling import (
        temperature_resample,
    )

    docs = spark.createDataFrame(
        [(i, None if i < 3 else "en") for i in range(100)],
        "doc_id bigint, lang string",
    )
    out = temperature_resample(docs, "doc_id", "lang", alpha=0.5)
    rates = {
        r["lang"]: r["rate"]
        for r in out.select("lang", "rate").distinct().collect()
    }
    # NULL is the smallest stratum: kept whole, rows NOT dropped
    assert rates[None] == 1.0
    assert out.where(F.col("lang").isNull()).count() == 3
    assert rates["en"] < 1.0
    # output-name collision raises instead of producing an ambiguous plan
    with pytest.raises(ValueError, match="rate"):
        temperature_resample(
            docs.withColumn("rate", F.lit(0.0)), "doc_id", "lang"
        )


def test_dedup_simhash32_parity(spark):
    """dedup_simhash32 left the 50-entry gate window in r4 for
    html_table_rows_docs (its signature computation is a strict subset
    of the still-gated simhash_near_pairs): exact DuckDB parity over
    the sf0.001 documents table, pinned here instead."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.simhash)
        for r in driver_queries.dedup_simhash32(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(driver_queries.SIMHASH32_ORACLE).fetchall()
    }
    assert got == want


def test_embedding_near_pairs_blocked_kernel_equals_hof(spark):
    """The r6 blocked-NumPy verification kernel must emit the IDENTICAL
    pair set AND bit-identical sims as the retained pure-SQL multi-probe
    HOF formulation (_embedding_near_pairs_hof) — the kernel replays the
    Catalyst float64 op order (sequential-sum dot and norms, BigDecimal
    HALF_UP rounding), so equality is exact, not approximate. Run at the
    gate operating point (rings=2) and at rings 1/3 so every graded ring
    keeps the pin."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for rings in (1, 2, 3):
        new = sorted(
            (r["vec_a"], r["vec_b"], r["sim"])
            for r in dedup.embedding_near_pairs(
                emb, threshold=0.4, probe_rings=rings
            ).collect()
        )
        ref = sorted(
            (r["vec_a"], r["vec_b"], r["sim"])
            for r in dedup._embedding_near_pairs_hof(
                emb, threshold=0.4, probe_rings=rings
            ).collect()
        )
        assert new == ref, f"rings={rings}: kernel diverged from HOF twin"
        assert len(new) > 0, f"rings={rings}: vacuous comparison"


def test_ngram_jaccard_kernel_equals_joined(spark):
    """The r6 replicated-index pair kernel must emit the IDENTICAL pairs
    AND jaccards as the retained inverted-index self-join formulation
    (_ngram_jaccard_pairs_joined), on real data and at a threshold low
    enough to emit plenty of rows."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for thr in (0.5, 0.2):
        new = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(docs, threshold=thr).collect()
        )
        ref = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup._ngram_jaccard_pairs_joined(
                docs, threshold=thr
            ).collect()
        )
        assert new == ref, f"thr={thr}: kernel diverged from join twin"
        assert len(new) > 0, f"thr={thr}: vacuous comparison"


def test_minhash_signatures_kernel_equals_expr(spark):
    """The r6 memoized Arrow signature kernel must emit the IDENTICAL
    (doc_id, mh_0..mh_7) rows as the retained explode + seeded-md5 min
    aggregate (_minhash_signatures_expr) — same hash definition, same
    short-doc drop semantics — including edge rows with consecutive /
    leading / trailing spaces (empty tokens are part of the shingle
    space in both formulations)."""
    from granulate_char_ocr_spark.operators import dedup

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (100001, "a  b c  d"),      # consecutive spaces -> empty tokens
            (100002, " lead trail "),   # leading/trailing space
            (100003, "one two"),        # < n tokens -> no signature row
            (100004, ""),               # empty text
            (100005, "x y z"),          # exactly n tokens
        ],
        "doc_id bigint, text string",
    )
    docs = base.unionAll(edges)
    for k, n in ((8, 3), (4, 2)):
        new = {
            tuple(r) for r in dedup.minhash_signatures(docs, k, n).collect()
        }
        ref = {
            tuple(r)
            for r in dedup._minhash_signatures_expr(docs, k, n).collect()
        }
        assert new == ref, f"k={k},n={n}: kernel diverged from expr twin"


def test_shingles_kernel_equals_expr(spark):
    """_shingles_kernel must emit the IDENTICAL (doc_id, shingle) row set
    as the expression-shaped shingles() — in-row distinct, short-doc
    drop, empty-token windows included."""
    from collections import Counter

    from granulate_char_ocr_spark.operators import dedup

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (300001, "a  b c  d a  b c"),  # repeated windows -> distinct
            (300002, " x y z "),
            (300003, "one two"),
            (300004, ""),
            (300005, None),
        ],
        "doc_id bigint, text string",
    )
    docs = base.unionAll(edges)
    for n in (2, 3):
        new = Counter(
            tuple(r) for r in dedup._shingles_kernel(docs, n).collect()
        )
        ref = Counter(tuple(r) for r in dedup.shingles(docs, n).collect())
        assert new == ref, f"n={n}"


def test_simhash_kernel_equals_expr(spark):
    """_simhash_kernel must emit IDENTICAL (doc_id, simhash) values as
    the expression-shaped simhash() at both the legacy 16-bit and the
    graded 32-bit width — including empty-token votes (split(' ') keeps
    them) and tie behavior (bit set only when the signed sum is
    STRICTLY positive)."""
    from granulate_char_ocr_spark.operators import dedup

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (400001, "a  b c  d"),  # empty tokens vote too
            (400002, " x "),
            (400003, ""),           # one empty token
            (400004, None),         # null text -> no row
            (400005, "tie tie"),    # even counts exercise ties
        ],
        "doc_id bigint, text string",
    )
    docs = base.unionAll(edges)
    for bits in (16, 32):
        new = {
            (r.doc_id, r.simhash)
            for r in dedup._simhash_kernel(docs, bits).collect()
        }
        ref = {
            (r.doc_id, r.simhash)
            for r in dedup.simhash(docs, bits).collect()
        }
        assert new == ref, f"bits={bits}"
