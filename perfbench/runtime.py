"""Where the benchmark keeps its files, and how it starts Spark.

Everything the benchmark writes stays under ``.perfbench_cache/`` in
the checkout: the prepared corpora and oracle answers (kept across
runs, in a directory keyed on the sources that produce them), and
per-run work directories, indexes, Spark local dirs and temp files
(removed when the run ends).
"""

from __future__ import annotations

import hashlib
import os
import sys
from contextlib import contextmanager
from typing import Iterator

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench_cache")

#: local[2] (the engine still uses 8 shuffle partitions) on a 4-core
#: machine: with four task threads, the JVM and the Python workers
#: already want more than four cores, so a stall on any core held up
#: every stage, and run-to-run spread doubled (README: "Configuration")
CPUS = 2


def source_key() -> str:
    """Hash of the engine's sources and of the benchmark files that
    decide the prepared data (the Spark settings the serve index is
    built with included), so a cache written by other code is never
    read."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, n) for n in
             ("prepare.py", "queries.py", "reference.py", "runtime.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "glug_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


CACHE = os.path.join(BASE, f"prepared-{source_key()}")
CORPORA = os.path.join(CACHE, "corpora")
ANSWERS = os.path.join(CACHE, "answers")


def import_engine() -> None:
    """Put the checkout on ``sys.path`` and import the engine, raising
    ImportError when the checkout holds no engine."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import glug_spark  # noqa: F401


def spark_env(scratch: str) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before the first SparkSession is created."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(CPUS),
        # a run writes nothing outside the checkout, so Spark spills here,
        # not to the engine's /dev/shm choice (README: "Configuration");
        # SPARK_LOCAL_DIRS wins over the spark.local.dir get_spark sets
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })


@contextmanager
def no_shm() -> Iterator[None]:
    """Hide /dev/shm while ``get_spark`` runs, so it creates no spill
    directory outside the checkout (SPARK_LOCAL_DIRS already decides
    where Spark spills)."""
    real = os.path.isdir
    os.path.isdir = lambda p: False if os.fspath(p) == "/dev/shm" else real(p)
    try:
        yield
    finally:
        os.path.isdir = real


def start_spark(app: str) -> object:
    from glug_spark.session import get_spark

    with no_shm():
        spark = get_spark(app, master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: object) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate, then reap
            proc.kill()
            proc.wait()
