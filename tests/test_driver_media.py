"""Driver multimodal job: bucketed idempotent writes, per-bucket
metrics with ok-taxonomy counts, and restart-resume — the same
operational envelope the extraction job has."""

import shutil

from pyspark.sql import functions as F

from unfurl_spark.plans.driver import run_media_job
from unfurl_spark.sources.synthetic import write_corpus


def test_media_job_decode_resume(spark, tmp_path):
    corpus = write_corpus(str(tmp_path / "corpus"), 120, seed=7)
    out = str(tmp_path / "out")

    s1 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode", "features"), n_buckets=6,
                       buckets_per_job=3, run_id="r1")
    assert sorted(s1["processed_buckets"]) == list(range(6))
    assert s1["n_media"] > 0
    # corpus media = real PNGs (decode) + PDFs (no pixel codec)
    assert s1["n_decoded"] > 0
    assert s1["n_codec_unavailable"] > 0
    assert s1["n_errors"] == 0
    assert s1["n_media"] == (s1["n_decoded"] + s1["n_codec_unavailable"])

    meta = spark.read.parquet(f"{out}/media_meta")
    feats = spark.read.parquet(f"{out}/media_features")
    assert meta.count() == s1["n_media"]
    assert feats.count() == s1["n_media"]
    pngs = meta.filter(F.col("container") == "png")
    assert pngs.filter(F.col("ok") != "ok").count() == 0
    assert pngs.filter(F.col("width").isNull()).count() == 0

    # restart: every bucket committed → nothing to do, output unchanged
    s2 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode", "features"), n_buckets=6,
                       buckets_per_job=3, run_id="r2")
    assert s2["processed_buckets"] == []
    assert sorted(s2["resumed_buckets"]) == list(range(6))
    assert spark.read.parquet(f"{out}/media_meta").count() == s1["n_media"]


def test_media_job_partial_resume(spark, tmp_path):
    corpus = write_corpus(str(tmp_path / "corpus"), 80, seed=9)
    out = str(tmp_path / "out")
    s1 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode",), n_buckets=4, buckets_per_job=4,
                       run_id="p1")
    total = s1["n_media"]
    # wipe metrics for buckets 2,3 to simulate a crash between chunks
    m = spark.read.parquet(f"{out}/media_metrics") \
             .filter(F.col("bucket") < 2).cache()
    m.count()
    m.write.mode("overwrite").parquet(f"{out}/media_metrics")
    s2 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode",), n_buckets=4, buckets_per_job=4,
                       run_id="p2")
    assert sorted(s2["resumed_buckets"]) == [0, 1]
    assert sorted(s2["processed_buckets"]) == [2, 3]
    # idempotent overwrite: total row count is stable
    assert spark.read.parquet(f"{out}/media_meta").count() == total


def test_media_job_resume_is_op_aware(spark, tmp_path):
    """A decode-only first run must NOT satisfy a later run that adds
    features: buckets re-run so media_features is complete, and the
    re-run is itself idempotent."""
    corpus = write_corpus(str(tmp_path / "corpus"), 60, seed=11)
    out = str(tmp_path / "out")
    s1 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode",), n_buckets=4, buckets_per_job=4,
                       run_id="o1")
    total = s1["n_media"]
    import os
    assert not os.path.exists(f"{out}/media_features")

    s2 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode", "features"), n_buckets=4,
                       buckets_per_job=4, run_id="o2")
    # decode-only commits don't cover features → all buckets reprocess
    assert sorted(s2["processed_buckets"]) == [0, 1, 2, 3]
    assert s2["resumed_buckets"] == []
    feats = spark.read.parquet(f"{out}/media_features")
    assert feats.count() == total
    assert "ok" in feats.columns  # lineage column persisted

    # now the superset run IS resumable, and so is the decode-only one
    s3 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode", "features"), n_buckets=4,
                       buckets_per_job=4, run_id="o3")
    assert s3["processed_buckets"] == []
    s4 = run_media_job(spark, corpus["media_payloads"], out,
                       ops=("decode",), n_buckets=4, buckets_per_job=4,
                       run_id="o4")
    assert s4["processed_buckets"] == []


def test_media_job_legacy_metrics_rows(spark, tmp_path):
    """Rows without op lineage are honored only for decode-only runs;
    rows without n_buckets are never honored."""
    corpus = write_corpus(str(tmp_path / "corpus"), 40, seed=13)
    out = str(tmp_path / "out")
    metrics = f"{out}/media_metrics"

    def drop(column):
        tmp = metrics + ".rewrite"
        spark.read.parquet(metrics).drop(column).write.parquet(tmp)
        shutil.rmtree(metrics)
        shutil.move(tmp, metrics)

    def run(ops, run_id):
        return run_media_job(spark, corpus["media_payloads"], out, ops=ops,
                             n_buckets=2, buckets_per_job=2, run_id=run_id)

    run(("decode",), "g1")
    drop("ops")
    s = run(("decode",), "g2")
    assert s["processed_buckets"] == []
    assert sorted(s["resumed_buckets"]) == [0, 1]
    s = run(("decode", "features"), "g3")
    assert sorted(s["processed_buckets"]) == [0, 1]

    drop("n_buckets")
    s = run(("decode",), "g4")
    assert s["resumed_buckets"] == []
    assert sorted(s["processed_buckets"]) == [0, 1]


def test_media_job_new_containers(spark, tmp_path):
    """ICO / TIFF / FLAC / APNG / SVG payloads flow through the same
    bucketed job envelope: decoded containers count as decoded, SVG
    stays flagged (dims real, rasterization out of scope)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from encoders import encode_apng, encode_flac, encode_ico, encode_tiff

    img = np.arange(24 * 32 * 3, dtype=np.uint8).reshape(24, 32, 3)
    frames = [np.full((8, 8, 4), v, np.uint8) for v in (10, 200)]
    rows = {
        "fav.ico": encode_ico(img),
        "scan.tiff": encode_tiff(img, compression="packbits"),
        "clip.apng": encode_apng(frames, [50, 50]),
        "song.flac": encode_flac(
            8000, (1000 * np.sin(np.arange(3000) / 9)
                   ).astype(np.int16).reshape(-1, 1)),
        "logo.svg": b'<svg width="10" height="20"></svg>',
        "grad.svg": b'<svg width="8" height="8"><rect width="8" height="8"'
                    b' fill="url(#g)"/></svg>',
    }
    src = str(tmp_path / "media.parquet")
    pq.write_table(pa.table({
        "media_ref": list(rows),
        "ctype": ["application/octet-stream"] * len(rows),
        "payload": list(rows.values()),
    }), src)
    out = str(tmp_path / "out")
    s = run_media_job(spark, src, out, ops=("decode", "features"),
                      n_buckets=2, buckets_per_job=2, run_id="nc1")
    assert s["n_media"] == 6
    # the empty solid-subset svg rasterizes for real now; only the
    # gradient-painted one stays at the boundary
    assert s["n_decoded"] == 5
    assert s["n_codec_unavailable"] == 1
    assert s["n_errors"] == 0
    meta = {r["media_ref"]: r
            for r in spark.read.parquet(f"{out}/media_meta").collect()}
    assert meta["fav.ico"]["container"] == "ico"
    assert (meta["scan.tiff"]["width"], meta["scan.tiff"]["height"]) \
        == (32, 24)
    assert meta["song.flac"]["container"] == "flac"
    assert (meta["logo.svg"]["width"], meta["logo.svg"]["height"]) \
        == (10, 20)
    assert meta["logo.svg"]["ok"] == "ok"
    assert meta["grad.svg"]["ok"] == "codec:unavailable"


def test_media_metrics_equal_committed_meta(spark, tmp_path):
    """Every committed media metrics row equals the per-bucket counts of
    the committed media_meta table — empty buckets (more buckets than
    payloads) read 0, and a malformed payload counts as an error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = write_corpus(str(tmp_path / "corpus"), 12, seed=5)
    t = pq.read_table(corpus["media_payloads"])
    bad = pa.Table.from_pylist([{
        "media_ref": "truncated.png", "ctype": "image/png",
        "payload": b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR\x00"}],
        schema=t.schema)
    src = str(tmp_path / "media.parquet")
    pq.write_table(pa.concat_tables([t, bad]), src)
    out = str(tmp_path / "out")
    n_buckets = 4 * (t.num_rows + 1)
    s = run_media_job(spark, src, out, ops=("decode",), n_buckets=n_buckets,
                      buckets_per_job=n_buckets // 4, run_id="eq")
    assert s["n_media"] == t.num_rows + 1
    assert s["n_errors"] >= 1

    names = ("n_media", "n_decoded", "n_codec_unavailable", "n_errors")
    want = {b: (0, 0, 0, 0) for b in range(n_buckets)}
    for r in spark.read.parquet(f"{out}/media_meta").groupBy("bucket").agg(
            F.count("*"), F.expr("count_if(ok = 'ok')"),
            F.expr("count_if(ok = 'codec:unavailable')"),
            F.expr("count_if(startswith(ok, 'err:'))")).collect():
        want[r[0]] = tuple(r[1:])
    assert sum(1 for v in want.values() if v[0] == 0) > 0

    metrics = spark.read.parquet(f"{out}/media_metrics")
    assert {f.name: f.dataType.simpleString() for f in metrics.schema
            if f.name in names} == dict.fromkeys(names, "bigint")
    got = {r["bucket"]: tuple(r[n] for n in names)
           for r in metrics.collect()}
    assert metrics.count() == n_buckets
    assert got == want
    assert s["n_errors"] == sum(v[3] for v in want.values())
