"""One kernel for the decode, features and resize ops: the media job's
fused path writes what the three single-op functions return, decodes
each payload at most once, keeps one op's failure out of the others'
columns, and leaves no cached data behind."""

import math
import re
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from encoders import encode_png, encode_wav
from hypothesis import given, settings
from hypothesis import strategies as st
from test_svgraster import _time_limit

# perfbench's DataFrame stand-in: mapInArrow hands back the Arrow kernel,
# which then runs in-process (building the kernel still needs a session)
from perfbench.kernel_trace import _Capture
from unfurl_spark.functions import multimodal
from unfurl_spark.plans.driver import run_media_job
from unfurl_spark.sources import tables

OPS = ("decode", "features", "resize")


def _mixed() -> list:
    """(media_ref, ctype, payload): PNGs on both sides of the header cap,
    a truncated PNG, a PDF, a WAV, a zero-sample WAV, an SVG, a NULL
    payload and a NULL media_ref."""
    rng = np.random.default_rng(17)
    small = encode_png(rng.integers(0, 256, (24, 32, 3), dtype=np.uint8))
    big = encode_png(rng.integers(0, 256, (240, 200, 3), dtype=np.uint8))
    assert len(small) < multimodal.HEADER_BYTE_CAP < len(big)
    wav = encode_wav(8000, rng.integers(-2000, 2000, 400).astype(np.int16))
    return [
        ("small.png", "image/png", small),
        ("big.png", "image/png", big),
        ("cut.png", "image/png", small[:60]),
        ("doc.pdf", "application/pdf",
         b"%PDF-1.4\n1 0 obj<</Type/Catalog>>endobj\n%%EOF\n"),
        ("tone.wav", "audio/wav", wav),
        ("empty.wav", "audio/wav", encode_wav(8000, np.zeros(0, np.int16))),
        ("logo.svg", "image/svg+xml",
         b'<svg width="10" height="20"><rect width="10" height="20" '
         b'fill="red"/></svg>'),
        ("null.bin", "application/octet-stream", None),
        (None, "image/png", small),
    ]


def _full_batch(rows) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([r[2] for r in rows], pa.binary())],
        names=["media_ref", "payload"])


def _head_batch(rows) -> pa.RecordBatch:
    cap = multimodal.HEADER_BYTE_CAP
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([None if r[2] is None else r[2][:cap] for r in rows],
                  pa.binary()),
         pa.array([None if r[2] is None else len(r[2]) for r in rows],
                  pa.int64())],
        names=["media_ref", "head", "n_bytes"])


def _run(kernel, batch) -> list:
    return pa.Table.from_batches(list(kernel(iter([batch])))).to_pylist()


def _singles(rows, dim=64, width=64, height=64) -> dict:
    """op → rows of that op's own single-op kernel, in input order."""
    return {
        "decode": _run(multimodal.decode_media(_Capture()),
                       _head_batch(rows)),
        "features": _run(multimodal.extract_features(_Capture(), dim=dim),
                         _full_batch(rows)),
        "resize": _run(multimodal.resize_images(_Capture(), width=width,
                                                height=height),
                       _full_batch(rows)),
    }


def test_fused_kernel_decodes_each_payload_at_most_once(spark, monkeypatch):
    rows = _mixed()
    calls = []
    real = multimodal.decode_pixels

    def counted(payload, container):
        calls.append(container)
        return real(payload, container)

    monkeypatch.setattr(multimodal, "decode_pixels", counted)
    fused = _run(multimodal.pixel_pass(_Capture(), OPS), _full_batch(rows))
    assert len(fused) == len(rows)
    assert 0 < len(calls) <= len(rows)

    # decode alone: an over-cap payload is header-only and not decoded
    calls.clear()
    meta = _run(multimodal.pixel_pass(_Capture(), ("decode",)),
                _head_batch(rows))
    assert [r["ok"] for r in meta].count("capped:header-only") == 1
    assert len(calls) == len(rows) - 1


def test_fused_driver_tables_equal_single_ops(spark, tmp_path):
    rows = _mixed()
    src = str(tmp_path / "media.parquet")
    pq.write_table(pa.table({
        "media_ref": pa.array([r[0] for r in rows], pa.string()),
        "ctype": pa.array([r[1] for r in rows], pa.string()),
        "payload": pa.array([r[2] for r in rows], pa.binary())}), src)
    out = str(tmp_path / "out")
    s = run_media_job(spark, src, out, ops=OPS, n_buckets=3,
                      buckets_per_job=2, run_id="fused")
    assert s["n_media"] == len(rows)

    df = spark.read.parquet(src)
    want = {"decode": multimodal.decode_media(df),
            "features": multimodal.extract_features(df),
            "resize": multimodal.resize_images(df)}
    table = {"decode": "media_meta", "features": "media_features",
             "resize": "media_resize"}
    got = {}
    for op in OPS:
        written = spark.read.parquet(f"{out}/{table[op]}").drop("bucket")
        assert written.columns == want[op].columns
        got[op] = {r["media_ref"]: r.asDict() for r in written.collect()}
        assert len(got[op]) == len(rows)
        assert got[op] == {r["media_ref"]: r.asDict()
                           for r in want[op].collect()}

    ok = {op: {ref: r["ok"] for ref, r in got[op].items()} for op in OPS}
    # over the cap: header-only meta, yet features and resize decode it
    assert ok["decode"]["big.png"] == "capped:header-only"
    assert ok["features"]["big.png"] == ok["resize"]["big.png"] == "ok"
    assert got["decode"]["big.png"]["width"] == 200
    # audio: real features, no thumbnail
    assert ok["features"]["tone.wav"] == "ok"
    assert ok["resize"]["tone.wav"] == "codec:unavailable"
    assert ok["decode"]["small.png"] == ok["decode"][None] == "ok"
    assert ok["features"]["empty.wav"].startswith("err:")
    assert ok["decode"]["cut.png"].startswith("err:")
    assert ok["decode"]["doc.pdf"] == "codec:unavailable"
    assert ok["decode"]["logo.svg"] == "ok"
    assert ok["decode"]["null.bin"] == "codec:unavailable"


def test_media_job_leaves_no_cache(spark, tmp_path, monkeypatch):
    from unfurl_spark.sources.synthetic import write_corpus

    corpus = write_corpus(str(tmp_path / "corpus"), 40, seed=21)
    spark.catalog.clearCache()  # what other tests left cached
    manager = spark._jsparkSession.sharedState().cacheManager()
    frame = type(spark.range(1))  # the session's DataFrame class
    persisted = []
    real_persist = frame.persist

    def counted_persist(self, *args, **kwargs):
        persisted.append(1)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(frame, "persist", counted_persist)

    def run(ops, out, run_id):
        return run_media_job(spark, corpus["media_payloads"],
                             str(tmp_path / out), ops=ops, n_buckets=4,
                             buckets_per_job=2, run_id=run_id)

    run(("decode",), "d", "d1")
    assert persisted == []  # decode alone: nothing to share
    run(OPS, "f", "f1")
    assert len(persisted) == 2  # once per chunk
    assert manager.isEmpty()

    real_write = tables.write_bucketed
    cached_while_writing = []

    def failing(df, identifier, *args, **kwargs):
        if identifier.endswith("media_features"):
            # the features table reads the persisted kernel result
            plan = df._jdf.queryExecution().executedPlan().toString()
            cached_while_writing.append(
                (not manager.isEmpty(), "InMemoryTableScan" in plan))
            raise RuntimeError("injected media_features failure")
        return real_write(df, identifier, *args, **kwargs)

    monkeypatch.setattr(tables, "write_bucketed", failing)
    with pytest.raises(RuntimeError, match="injected"):
        run(OPS, "x", "x1")
    assert cached_while_writing == [(True, True)]
    assert manager.isEmpty()

    monkeypatch.setattr(tables, "write_bucketed", real_write)
    s = run(OPS, "x", "x2")
    assert s["resumed_buckets"] == []
    assert sorted(s["processed_buckets"]) == [0, 1, 2, 3]
    assert manager.isEmpty()


@pytest.mark.parametrize("ops", [("decode",), OPS])
def test_media_job_salts_the_pixel_pass(spark, tmp_path, monkeypatch, ops):
    """The media job's pixel kernel reads defaultParallelism partitions
    hashed on media_ref, not the scan's file splits."""
    from unfurl_spark.sources.synthetic import write_corpus

    corpus = write_corpus(str(tmp_path / "corpus"), 40, seed=21)
    real_write = tables.write_bucketed
    plans = []

    def capture(df, identifier, *args, **kwargs):
        if identifier.endswith("media_meta"):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_write(df, identifier, *args, **kwargs)

    monkeypatch.setattr(tables, "write_bucketed", capture)
    run_media_job(spark, corpus["media_payloads"], str(tmp_path / "out"),
                  ops=ops, n_buckets=4, buckets_per_job=4, run_id="salt")
    n = spark.sparkContext.defaultParallelism
    [plan] = plans
    # the operator the kernel reads: the first one below its MapInArrow
    below = plan[plan.index("MapInArrow"):].splitlines()[1]
    assert re.search(r"Exchange hashpartitioning\(xxhash64\(media_ref#\d+, "
                     rf"42\), {n}\)", below), plan


def test_library_pixel_ops_ask_only_select_and_map(spark):
    """Unsalted (``num_partitions=None``), the library's pixel ops call
    nothing on their input but ``select`` and ``mapInArrow``: perfbench's
    traced pass runs them over ``_Capture``, which has only those two
    (anything else raises AttributeError)."""
    for op in (multimodal.decode_media, multimodal.extract_features,
               multimodal.resize_images):
        assert callable(op(_Capture())), op.__name__


def test_one_op_failure_leaves_the_others_alone(spark, monkeypatch):
    rows = _mixed()
    kernel = multimodal.pixel_pass(_Capture(), OPS)
    clean = _run(kernel, _full_batch(rows))

    def broken(*args, **kwargs):
        raise RuntimeError("broken op")

    for op, target in (("resize", "resize_area"),
                       ("features", "_embedding")):
        with monkeypatch.context() as m:
            m.setattr(multimodal, target, broken)
            hurt = _run(kernel, _full_batch(rows))
        for before, after in zip(clean, hurt):
            for other in OPS:
                if other != op:
                    assert after[other] == before[other], (op, other)
            if before[op]["ok"] == "ok":
                assert after[op]["ok"] == "err:RuntimeError"


_SAMPLES = {
    "png": encode_png(np.arange(6 * 5 * 3, dtype=np.uint8).reshape(6, 5, 3)),
    "wav": encode_wav(8000, (np.arange(64) * 97 % 4000 - 2000
                             ).astype(np.int16)),
    "svg": (b'<svg width="6" height="4"><rect x="1" y="1" width="3" '
            b'height="2" fill="#0a0"/><circle cx="4" cy="2" r="1"/></svg>'),
    "pdf": b"%PDF-1.4\n1 0 obj<</Type/Catalog>>endobj\ntrailer<<>>\n%%EOF\n",
}
_MUTATION = st.tuples(st.sampled_from(("flip", "cut", "insert")),
                      st.integers(0, 400), st.integers(0, 255))


def _mutate(data: bytes, mutations) -> bytes:
    buf = bytearray(data)
    for kind, pos, value in mutations:
        i = pos % (len(buf) + 1)
        if kind == "flip" and i < len(buf):
            buf[i] ^= value or 1
        elif kind == "cut":
            del buf[i:]
        elif kind == "insert":
            buf[i:i] = bytes([value])
    return bytes(buf)


_LINEAGE = ("ok", "codec:unavailable", "capped:header-only")


@settings(max_examples=150, deadline=timedelta(seconds=2))
@given(st.lists(st.tuples(st.sampled_from(sorted(_SAMPLES)),
                          st.lists(_MUTATION, max_size=4)),
                min_size=1, max_size=4))
def test_fused_kernel_fuzz_total_and_isolated(spark, cases):
    """Mutated PNG/WAV/SVG/PDF payloads: one row per record, every ok a
    lineage value, a unit-norm embedding and a w*h*3 thumbnail, and each
    op's columns equal to that op run alone."""
    dim, width, height = 16, 4, 3
    rows = [(f"r{i}", "", _mutate(_SAMPLES[kind], muts))
            for i, (kind, muts) in enumerate(cases)]
    with _time_limit(10.0):
        fused = _run(multimodal.pixel_pass(_Capture(), OPS, dim=dim,
                                           width=width, height=height),
                     _full_batch(rows))
        singles = _singles(rows, dim, width, height)
    assert [r["media_ref"] for r in fused] == [r[0] for r in rows]
    for i, row in enumerate(fused):
        for op in OPS:
            ok = row[op]["ok"]
            assert ok in _LINEAGE or ok.startswith("err:"), (op, ok)
            single = dict(singles[op][i])
            assert single.pop("media_ref") == row["media_ref"]
            assert row[op] == single, op
        vec = row["features"]["embedding"]
        assert len(vec) == dim
        assert math.isclose(math.sqrt(sum(v * v for v in vec)), 1.0,
                            abs_tol=1e-4)
        assert len(row["resize"]["payload"]) == width * height * 3
