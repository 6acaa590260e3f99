"""Shared plumbing for the benchmark: host hygiene, Spark start/stop,
statistics and host facts.

Everything the benchmark writes goes under ``.perfbench/`` in the
directory it runs from (Spark local dirs, warehouse, JVM temp files,
event logs, spans), so a run never touches the repository's own
``spark-warehouse/`` or anything outside its checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

# The checkout root: the directory that holds perfbench/.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "finding_similar_high_dimensional_items_for_big_data_sets_spark"
# Spark's local[N] executors run inside the session's one JVM; a 3 GB
# heap holds every workload here, well under a 15 GB host.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def work_dir(tag: str) -> str:
    """Fresh per-process scratch directory under ``.perfbench/``."""
    path = os.path.join(ROOT, ".perfbench", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def configure_spark_env(work: str, event_log: bool) -> None:
    """Point every Spark/JVM/Python temp path into ``work`` and size
    the session for the host. Must run before pyspark launches its
    JVM; the package's ``get_spark`` then picks the settings up."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": os.path.join(work, "events"),
    }
    args = []
    for key, value in confs.items():
        args += ["--conf", f"{key}={value}"]
    # no hsperfdata file: the JVM would write it to /tmp whatever its tmpdir
    args += [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData'",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args)


def start_spark(app: str):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark import (
        get_spark,
    )

    return get_spark(app)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job launched inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class Stopwatch:
    def __enter__(self):
        self.start = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.seconds = time.monotonic() - self.start


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    import numpy as np

    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return percentile(values, 50)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def exact_topk(index, q, k) -> list[tuple[int, float]]:
    """Brute-force estimated-Jaccard top-k over a ServingIndex's
    signatures, ties by doc_id ascending: the recall reference."""
    import numpy as np

    counts = (index.sigs == np.asarray(q)).sum(axis=1)
    order = np.lexsort((index.doc_ids, -counts))[:k]
    return [
        (int(index.doc_ids[i]), float(counts[i]) / index.params.num_perm)
        for i in order
    ]


def candidate_count(index, q) -> int:
    """Docs sharing at least one band bucket with ``q`` in ``index``."""
    import numpy as np

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_hash import (
        band_hashes_local,
    )

    hits = [
        index.buckets[b][h]
        for b, h in enumerate(band_hashes_local(np.asarray(q), index.params))
        if h in index.buckets[b]
    ]
    return int(np.unique(np.concatenate(hits)).size) if hits else 0


def rss_mb(pid: int | None = None) -> float:
    with open(f"/proc/{pid or 'self'}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS not found")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def calibration_ms() -> float:
    """Time of a fixed pure-Python loop: how fast the host ran when
    the run was made (shared hosts drift by tens of percent)."""
    start = time.perf_counter()
    total = 0
    for i in range(300_000):
        total += i * i % 7
    return (time.perf_counter() - start) * 1e3


def host_info() -> dict:
    """Facts a reader needs to compare runs: cores, program identity,
    library versions."""
    import numpy
    import pyspark

    digest = hashlib.sha256()
    pkg_dir = os.path.join(ROOT, PKG)
    for base, dirs, files in sorted(os.walk(pkg_dir)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "nproc": nproc(),
        "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
    }


def emit(tag: str, payload: dict) -> None:
    """One tagged JSON line on stdout: the server process's channel to
    the benchmark process (the JVM shares stdout, so lines are tagged)."""
    sys.stdout.write(f"{tag} {json.dumps(payload)}\n")
    sys.stdout.flush()
