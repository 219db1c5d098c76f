"""Process-level plumbing: keeping Spark inside the work directory, the
open-loop file generator, the process tree's peak RSS, and reading commit
times and batch membership back out of a streaming checkpoint."""

from __future__ import annotations

import glob
import json
import os
import shlex
import tempfile
import threading
import time
from datetime import datetime

from gen import Send


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the Py4J gateway JVM that PySpark launched (it otherwise lives
    until this process exits) and wait for it and the Python workers it
    forked to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    kids = descendants()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=timeout)
    left = wait_gone(kids, timeout)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


HEAP = "2g"


def configure_env(work: str, event_log: str | None) -> None:
    """Point every temp and scratch path of this process, the JVM and the
    Python workers into ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.pop("SPARK_GRAFT_KAFKA", None)
    # no hsperfdata files under /tmp, from the launcher JVM or the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a fixed-size, pre-touched heap: no heap resizing between runs, so GC
    # pauses repeat from run to run, and the JVM's resident size does not
    # depend on how much of the heap a run happened to touch
    args = ["--driver-java-options",
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.local.dir={local}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def drop_file(staging: str, target_dir: str, name: str,
              lines: list[str]) -> None:
    """Atomic arrival: write in a staging dir, then rename into the
    source directory, so the file source never lists a partial file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(target_dir, name))


class Generator(threading.Thread):
    """Open loop: sends each file at ``t0 + due`` whatever the system is
    doing, and logs the actual send time of each file."""

    def __init__(self, sends: list[Send], dirs: dict[str, str],
                 staging: str, t0: float):
        super().__init__(daemon=True)
        self.sends = sorted(sends, key=lambda s: s.due)
        self.dirs = dirs
        self.staging = staging
        self.t0 = t0
        self.sent_at: dict[str, float] = {}  # file name -> epoch seconds
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        try:
            for s in self.sends:
                wait = self.t0 + s.due - time.time()
                if wait > 0 and self._stop_evt.wait(wait):
                    return
                drop_file(self.staging, self.dirs[s.stream], s.name, s.lines)
                self.sent_at[s.name] = time.time()
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()

    def lag_max(self) -> float:
        """How late the generator ran: worst actual minus scheduled send."""
        return max((self.sent_at[s.name] - (self.t0 + s.due)
                    for s in self.sends if s.name in self.sent_at),
                   default=0.0)


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended while we looked
        out[int(stat.split("/")[2])] = int(fields[1])
    return out


def _tree(root: int, parents: dict[int, int]) -> set[int]:
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, pp in parents.items():
            if pp in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return keep


def descendants() -> set[int]:
    """Every process this one started, directly or not (the JVM and the
    Python workers it forks)."""
    return _tree(os.getpid(), _parents()) - {os.getpid()}


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    end = time.time() + timeout
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not alive or time.time() > end:
            return alive
        time.sleep(0.1)


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""  # ended, or a kernel thread


def _spawning(pid: int, parent: int, exe=_exe) -> bool:
    """A child the JVM is starting (posix_spawn through ``jspawnhelper``)
    shares the JVM's memory until it execs its target, so its RSS is the
    JVM's counted again."""
    return exe(pid) in ("java", "jspawnhelper") and exe(parent) == "java"


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's RSS (``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # ended while we looked
    return 0


def tree_peak_rss_bytes() -> int:
    """Sum of the peak RSS of this process and every live descendant (the
    JVM is a child of this process and the Python workers are children of
    the JVM). Each peak is read after the spawn check, so a child that
    execs in between is counted with its own memory, not the JVM's."""
    parents = _parents()
    return sum(_peak_rss_bytes(p) for p in _tree(os.getpid(), parents)
               if p in parents and not _spawning(p, parents[p]))


def commit_times(checkpoint: str) -> dict[int, float]:
    """Query batch id -> epoch seconds its commit-log entry was written:
    the instant the micro-batch's output became final."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "commits", "[0-9]*")):
        out[int(os.path.basename(p))] = os.stat(p).st_mtime
    return out


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [ln for ln in f.read().splitlines()[1:] if ln.strip()]


def file_batches(checkpoint: str) -> dict[str, int]:
    """Source file name -> the query batch that read it, joined from the
    file source's log (file -> source batch) and the offset log (query
    batch -> last source batch it covers)."""
    src_batch: dict[str, int] = {}
    src_dir = os.path.join(checkpoint, "sources", "0")
    for p in glob.glob(os.path.join(src_dir, "*")):
        if not os.path.basename(p)[0].isdigit():
            continue
        for ln in _log_lines(p):
            e = json.loads(ln)
            src_batch[os.path.basename(e["path"])] = e["batchId"]
    last_src: list[tuple[int, int]] = []  # (source batch, query batch)
    for p in glob.glob(os.path.join(checkpoint, "offsets", "[0-9]*")):
        lines = _log_lines(p)
        last_src.append((json.loads(lines[1])["logOffset"],
                         int(os.path.basename(p))))
    last_src.sort()
    out = {}
    for name, sb in src_batch.items():
        out[name] = next(qb for lo, qb in last_src if lo >= sb)
    return out


def progress_batches(query) -> list[dict]:
    """One dict per executed micro-batch from the query's progress reports:
    batch id, start/end (epoch s), trigger and addBatch durations."""
    out = []
    for p in query.recentProgress:
        d = p.durationMs
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        t0 = (start - datetime(1970, 1, 1)).total_seconds()
        trig = d.get("triggerExecution", 0) / 1e3
        out.append({"batch": p.batchId, "start": t0, "end": t0 + trig,
                    "trigger_s": trig,
                    "add_batch_s": d.get("addBatch", 0) / 1e3})
    return out
