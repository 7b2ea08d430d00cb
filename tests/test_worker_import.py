"""``__spark_entry__.py`` may be loaded by path, from any working
directory, into a bare SparkSession. The Arrow-kernel rows
pickle ``sparkobs`` functions by reference, so their Python workers must
import the package even when neither their working directory nor
PYTHONPATH leads to the checkout. A ``get_spark`` session started there
must run them too: its Python worker daemon is ``sparkobs.pyworker``."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ARROW_ROWS = (
    "semantic_dedup_embeddings",
    "decode_synth_media",
    "resize_synth_media",
    "image_ahash_dedup_media",
    "image_near_dup_media",
    "video_framehash_dedup_media",
    "video_avi_container_media",
)

SCRIPT = """
import importlib.util, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
spec = importlib.util.spec_from_file_location("entry_by_path", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
qs = mod.queries()
for name in sys.argv[3:]:
    try:
        qs[name](spark, sys.argv[2]).collect()
        print("OK", name, flush=True)
    except Exception as e:
        print("FAIL", name, " ".join(str(e).split())[:200], flush=True)
spark.stop()
"""


#: the registry's functions, not the entry's shipping wrappers: the
#: workers must find the package through the session alone
GET_SPARK_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from sparkobs.queries import SPARK_QUERIES
from sparkobs.session import get_spark
spark = get_spark("worker-import", {"spark.master": "local[2]"})
for name in sys.argv[3:]:
    try:
        SPARK_QUERIES[name](spark, sys.argv[2]).collect()
        print("OK", name, flush=True)
    except Exception as e:
        print("FAIL", name, " ".join(str(e).split())[:200], flush=True)
spark.stop()
"""


def _run_rows(script, script_arg, sf_dir, cwd):
    """Run ``script`` with PYTHONPATH unset from ``cwd``; its OK/FAIL lines
    and the stderr tail."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script, script_arg, sf_dir, *ARROW_ROWS],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    results = [ln for ln in proc.stdout.splitlines() if ln.startswith(("OK ", "FAIL "))]
    return results, proc.stderr[-2000:]


def test_arrow_rows_run_from_another_cwd_in_a_bare_session(tmp_path, sf_dir):
    results, stderr = _run_rows(
        SCRIPT, os.path.join(REPO, "__spark_entry__.py"), sf_dir, tmp_path
    )
    assert results == [f"OK {n}" for n in ARROW_ROWS], "\n".join(results) or stderr


def test_arrow_rows_run_from_another_cwd_in_a_get_spark_session(tmp_path, sf_dir):
    results, stderr = _run_rows(GET_SPARK_SCRIPT, REPO, sf_dir, tmp_path)
    assert results == [f"OK {n}" for n in ARROW_ROWS], "\n".join(results) or stderr
