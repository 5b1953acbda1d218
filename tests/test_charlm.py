"""CCNet-style char-trigram LM perplexity scoring (operators/textstats.py)
— semantics and exact DuckDB parity."""

from granulate_char_ocr_spark.operators.textstats import charlm_perplexity


def test_charlm_perplexity_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaaa aaaa aaaa aaaa aaaa aaaa"),  # in-distribution, repetitive
            (2, "aaaa aaaa aaaa aaaa aaaa aaab"),  # one rare continuation
            (3, "zq"),                             # too short: unscorable
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["perplexity"])
        for r in charlm_perplexity(docs).collect()
    }
    # doc 3 normalizes to 2 chars -> no trigrams, NULL score
    assert got[3] == (0, None)
    assert got[1][0] == len("aaaa aaaa aaaa aaaa aaaa aaaa") - 2
    # the doc with the rare trigram is more surprising under the corpus LM
    assert got[2][1] > got[1][1] > 1.0


def test_charlm_perplexity_ref_corpus(spark):
    # scoring against a DIFFERENT reference: text matching ref scores
    # lower perplexity than out-of-distribution text
    ref = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzz qqq xxx vvv kkk")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["perplexity"]
        for r in charlm_perplexity(docs, ref=ref).collect()
    }
    assert got[1] < got[2]


def test_charlm_perplexity_duckdb_parity(spark):
    import duckdb

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_grams"], r["perplexity"])
        for r in charlm_perplexity(
            spark.read.parquet(f"{sf}/documents.parquet")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            """
        WITH t AS (SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z ]', '', 'g') AS norm
                   FROM documents),
        g AS (SELECT doc_id,
                unnest(CASE WHEN len(norm) >= 3 THEN
                  list_transform(range(1, len(norm) - 1),
                                 i -> substr(norm, i, 3))
                  ELSE [] END) AS tri
              FROM t),
        c3 AS (SELECT tri, count(*) AS c3 FROM g GROUP BY 1),
        c2 AS (SELECT substr(tri, 1, 2) AS ctx, sum(c3) AS c2
               FROM c3 GROUP BY 1),
        s AS (SELECT g.doc_id, count(*) AS n_grams,
                round(exp(-avg(ln(
                  (coalesce(c3.c3, 0) + 1) / (coalesce(c2.c2, 0) + 27)
                ))), 4) AS perplexity
              FROM g LEFT JOIN c3 USING (tri)
                     LEFT JOIN c2 ON substr(g.tri, 1, 2) = c2.ctx
              GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT), s.perplexity
        FROM documents d LEFT JOIN s USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want
    assert all(v[0] > 0 for v in got.values())
