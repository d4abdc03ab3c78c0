import shutil
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


@pytest.fixture(scope="session")
def spark():
    from unfurl_spark.operators.pipeline import session

    s = session(app="unfurl_spark_tests", master="local[8]",
                shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jpeghelper(tmp_path_factory):
    """Path of ``tools/jpeghelper.c`` built against libjpeg (the golden
    encoder/decoder of the JPEG tests); skips with gcc's own message
    where it cannot be built."""
    if shutil.which("gcc") is None:
        pytest.skip("gcc not available")
    src = Path(__file__).resolve().parents[1] / "tools" / "jpeghelper.c"
    exe = tmp_path_factory.mktemp("jpeghelper") / "jpeghelper"
    r = subprocess.run(["gcc", "-O2", "-o", str(exe), str(src), "-ljpeg"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        pytest.skip(f"cannot build {src.name}: {r.stderr.strip()}")
    return str(exe)
