"""MinHash-LSH recall on PLANTED near-duplicate documents: pairs with
~95% shingle overlap must land in a shared band bucket at the rate LSH
theory predicts (per-band p = J^4, union of 2 bands ≈ 1-(1-p)^2 ≈ 0.95
at J≈0.95).  Deterministic corpus + md5 hashing → a stable floor."""

import pytest

from unfurl_spark.operators.queries import _MINHASH_BODY, _MINHASH_CTE


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").limit(60).collect()
    rows = []
    planted_pairs = []
    next_id = 50_000
    for r in base:
        rows.append((r.doc_id, r.text))
        words = r.text.split(" ")
        if len(words) < 30:
            continue
        # mutate one word near the end: ~3 of ~n shingles change
        words[-2] = "zzmutated"
        rows.append((next_id, " ".join(words)))
        planted_pairs.append((r.doc_id, next_id))
        next_id += 1
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    yield planted_pairs
    from unfurl_spark.operators.queries import load_views
    load_views(spark, "/root/testdata/sf0.01")


def test_planted_near_dups_share_a_band(spark, planted_docs):
    assert len(planted_docs) >= 40
    sig_sql = _MINHASH_CTE + _MINHASH_BODY
    spark.sql(sig_sql).createOrReplaceTempView("sig")
    bands = spark.sql("""
        SELECT doc_id, md5(concat(h0, h1, h2, h3)) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, md5(concat(h4, h5, h6, h7)) AS band_key FROM sig
    """).collect()
    by_doc: dict = {}
    for r in bands:
        by_doc.setdefault(r.doc_id, set()).add(r.band_key)
    hits = sum(1 for a, b in planted_docs
               if by_doc.get(a, set()) & by_doc.get(b, set()))
    recall = hits / len(planted_docs)
    assert recall >= 0.6, f"minhash band recall {recall} < 0.6"


def test_unrelated_docs_rarely_collide(spark, planted_docs):
    """The flip side: distinct originals should almost never share a band
    (8 min-hashes over disjoint shingle sets collide ~never)."""
    sig_sql = _MINHASH_CTE + _MINHASH_BODY
    spark.sql(sig_sql).createOrReplaceTempView("sig")
    rows = spark.sql("""
        WITH bands AS (
          SELECT doc_id, md5(concat(h0, h1, h2, h3)) AS band_key FROM sig
          UNION ALL
          SELECT doc_id, md5(concat(h4, h5, h6, h7)) AS band_key FROM sig
        )
        SELECT band_key, count(DISTINCT doc_id) AS n
        FROM bands WHERE doc_id < 50000   -- originals only
        GROUP BY band_key HAVING count(DISTINCT doc_id) > 1
    """).collect()
    # sf0.01's synthetic corpus has genuine duplicate texts (the dedup
    # family's fixtures) — allow those, but no explosion
    assert len(rows) < 30


@pytest.mark.parametrize("name", ["dedup_minhash_signature",
                                  "dedup_minhash_lsh_buckets",
                                  "dedup_apply_keep"])
def test_minhash_queries_equal_their_duckdb_twins(spark, name):
    """On sf0.01 each minhash dedup query returns exactly the rows of
    its DuckDB oracle twin: the signatures, the LSH buckets with their
    sizes and keepers, and the documents the keeper step keeps."""
    import duckdb
    from test_ann_recall import SF_DIR as sf

    from unfurl_spark.operators.queries import QUERIES

    build, oracle = QUERIES[name]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    want = sorted(con.execute(oracle).fetchall())
    assert want
    assert sorted(map(tuple, build(spark, sf).collect())) == want
