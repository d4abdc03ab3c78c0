"""session_configs: the local/cluster deployment profiles (SCALE.md).

The r4 verdict's top item: `spark.sql.files.maxPartitionBytes` was
hard-coded to 1 MB — right for the sandbox's single ~160 MB test file,
a driver-side scheduling blow-up (~10^8 splits) at 100 TB.  The config
set is now a pure function of the profile so both regimes are
assertable without building a SparkSession.
"""
import json
import os
import subprocess
import sys

from unfurl_spark.operators.pipeline import session_configs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_profile_sandbox_values():
    c = session_configs("local", master="local[8]", shuffle_partitions=8)
    assert c["spark.sql.files.maxPartitionBytes"] == "1m"
    # local shuffle never crosses a network: compression off
    assert c["spark.shuffle.compress"] == "false"
    assert c["spark.shuffle.spill.compress"] == "false"
    assert c["spark.sql.shuffle.partitions"] == "8"
    # no executor shaping in local mode
    assert "spark.executor.memory" not in c
    assert "spark.checkpoint.dir" not in c


def test_cluster_profile_scale_values():
    c = session_configs("cluster", master="yarn", shuffle_partitions=32000)
    # one split per ~256 MB Iceberg file → ~400k tasks at 100 TB
    assert c["spark.sql.files.maxPartitionBytes"] == "256m"
    # ~100 TB crosses the network: compression on
    assert c["spark.shuffle.compress"] == "true"
    assert c["spark.shuffle.spill.compress"] == "true"
    # SCALE.md executor arithmetic: 16 cores × 16 GB; the Python workers
    # live in memoryOverhead, with no per-worker address-space limit
    assert c["spark.executor.cores"] == "16"
    assert c["spark.executor.memory"] == "16g"
    assert c["spark.executor.memoryOverhead"] == "10g"
    assert "spark.executor.pyspark.memory" not in c
    # durable checkpoint dir for the resumable driver
    assert c["spark.checkpoint.dir"]
    # never inherits the sandbox's tmpfs local dir
    assert "spark.local.dir" not in c


def test_cluster_checkpoint_dir_override():
    c = session_configs("cluster", checkpoint_dir="hdfs:///ckpt/unfurl")
    assert c["spark.checkpoint.dir"] == "hdfs:///ckpt/unfurl"


def test_shared_invariants_both_profiles():
    for p in ("local", "cluster"):
        c = session_configs(p, master="local[8]" if p == "local" else "yarn")
        assert c["spark.sql.adaptive.enabled"] == "true"
        assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
        assert c["spark.sql.execution.arrow.pyspark.enabled"] == "true"
        assert c["spark.sql.session.timeZone"] == "UTC"


def test_session_profile_defaults_by_master():
    # pure-function check of the dispatch rule used by session()
    from unfurl_spark.operators import pipeline
    import inspect
    src = inspect.getsource(pipeline.session)
    assert 'startswith("local")' in src  # local master → local profile


# SCALE.md "Side tables": the broadcast store size the cluster profile is
# measured to hold, in MiB of body bytes.
STORE_MIB = 100

_KERNEL_TASK = r"""
import json, sys
from pyspark.sql import SparkSession
from perfbench.sparkjob import shutdown, worker_peak_rss_mb
from unfurl_spark.operators.pipeline import (SideTables, _map_kernel,
                                             narrow_columns)

conf, store_mib = json.loads(sys.argv[1]), int(sys.argv[2])
b = SparkSession.builder.master("local[2]")
for k, v in conf.items():
    b = b.config(k, v)
spark = b.getOrCreate()
sc = spark.sparkContext
body = "x" * 512  # 2**20 // 512 entries per MiB of bodies
# distinct bodies: pickle would write one shared str only once
store = {f"https://oembed.example/?url=p{i}": (200, "application/json",
                                                body[:-8] + f"{i:08d}")
         for i in range(store_mib * 2**20 // 512)}
side = SideTables(sc.broadcast(store), sc.broadcast(None), sc.broadcast(None))
del store
docs = spark.createDataFrame(
    [("d1", [("html", "<html><head><title>t</title></head></html>",
              "https://ex.com/a", 0)], 200)],
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>, status int")
ok = [r["ok"] for r in
      _map_kernel(narrow_columns(docs).repartition(1), side).collect()]
print(json.dumps({"ok": ok, "peak_mb": worker_peak_rss_mb()}))
shutdown(spark)
"""


def _mb(size: str) -> float:
    return float(size[:-1]) * {"m": 1, "g": 1024}[size[-1]]


def test_cluster_profile_fits_broadcast_store():
    """One kernel task loads a broadcast store of the size SCALE.md
    states, at ``local[2]`` with the cluster profile's executor cores.
    Its worker's peak RSS, times the cores (one worker per core), must
    fit the Python memory the profile grants: ``memoryOverhead`` less
    Spark's own default overhead for the JVM, max(384 MB, 10% of the
    executor heap).  The profile sets no ``spark.executor.pyspark.memory``
    (asserted above), so no worker runs under an address-space limit."""
    c = session_configs("cluster", master="yarn")
    cores = int(c["spark.executor.cores"])
    grant = (_mb(c["spark.executor.memoryOverhead"])
             - max(384.0, 0.10 * _mb(c["spark.executor.memory"])))
    conf = {"spark.executor.cores": c["spark.executor.cores"],
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false"}
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH", "")) if p)
    r = subprocess.run(
        [sys.executable, "-c", _KERNEL_TASK, json.dumps(conf),
         str(STORE_MIB)],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert out["ok"] == ["ok"], out["ok"]
    assert out["peak_mb"] * cores <= grant, (out["peak_mb"], cores, grant)
