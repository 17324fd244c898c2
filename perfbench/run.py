"""binlogpipe benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload trans_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. This process starts ``perfbench/worker.py``
(which drives Spark on ``local[<nproc>]``) in its own process group, times
each unit the worker reports, samples the worker's whole process tree
(driver JVM, Python driver, Python workers) from ``/proc`` for CPU time and
peak RSS, gives every unit a deadline and kills the group when one passes.
All files go under ``.perfbench_work/`` in the checkout and are removed at
the end.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See perfbench/README.md for what each metric means and which layer moves it.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path
from typing import NamedTuple

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OP_DEADLINE_S = 90.0    # one pipeline run or streaming drain
RUN_DEADLINE_S = 170.0  # the whole run, set-up included
TICK = os.sysconf("SC_CLK_TCK")
PF_FORKNOEXEC = 0x40
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# ---- /proc sampling of the worker's process tree -------------------------

class Proc(NamedTuple):
    ppid: int
    cpu_s: float  # utime + stime, plus that of reaped children
    start: int    # start time in clock ticks (tells a reused pid apart)
    rss: int      # bytes
    comm: str
    forked: bool  # forked and not (yet) exec'd


def _proc(pid: int) -> Proc | None:
    """None for a pid that is gone, and for a thread id (/proc resolves
    those too, but they are part of their process).

    ``stat`` (with the forked-not-exec'd flag) is read before ``status``
    (with the RSS): a JVM child caught between the two reads has exec'd
    after its flag was read, so the RSS read after it is its own, never
    the JVM's pages it shared until the exec."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            comm, fields = f.read().split("(", 1)[1].rsplit(")", 1)
        fields = fields.split()
        with open(f"/proc/{pid}/status") as f:
            status = dict(line.split(":", 1) for line in f if ":" in line)
        if int(status["Tgid"]) != pid:
            return None
        rss = int(status.get("VmRSS", "0 kB").split()[0]) * 1024
    except (FileNotFoundError, ProcessLookupError, IndexError, KeyError):
        return None
    return Proc(int(fields[1]), sum(int(x) for x in fields[11:15]) / TICK,
                int(fields[19]), rss, comm,
                bool(int(fields[6]) & PF_FORKNOEXEC))


class Tree:
    """The live descendants of one process, and every one ever seen."""

    def __init__(self, pid: int):
        self.pid = pid
        self.seen: dict[int, int] = {}  # pid -> start tick

    def sample(self) -> tuple[float, int]:
        """(summed CPU seconds, summed RSS bytes) of the tree now."""
        procs = {int(d): p for d in os.listdir("/proc")
                 if d.isdigit() and (p := _proc(int(d))) is not None}
        members, frontier = set(), [self.pid]
        while frontier:
            pid = frontier.pop()
            if pid in procs and pid not in members:
                members.add(pid)
                frontier += [c for c, p in procs.items() if p.ppid == pid]
        for pid in members:
            self.seen.setdefault(pid, procs[pid].start)
        # A JVM thread that forks a helper (Hadoop shell calls) leaves a
        # child that shares the JVM's pages until it execs; its RSS would
        # count the JVM twice. Python workers fork from the pyspark daemon,
        # not from the JVM, and stay counted.
        own = [pid for pid in members if not (
            procs[pid].forked and procs[procs[pid].ppid].comm == "java")]
        return (sum(procs[pid].cpu_s for pid in members),
                sum(procs[pid].rss for pid in own))

    def kill_all(self) -> None:
        """SIGKILL every process of the tree still alive; wait until gone."""
        try:
            os.killpg(self.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        deadline = time.time() + 10
        while time.time() < deadline:
            alive = [pid for pid, start in self.seen.items()
                     if (p := _proc(pid)) is not None and p.start == start]
            if not alive:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)


class PeakRss(threading.Thread):
    """Peak summed RSS of the tree while a unit runs."""

    def __init__(self, tree: Tree):
        super().__init__(daemon=True)
        self.tree, self.peak, self.active = tree, 0, False
        self.lock = threading.Lock()
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.05):
            if self.active:
                rss = self.tree.sample()[1]
                with self.lock:
                    self.peak = max(self.peak, rss)

    def begin(self) -> None:
        with self.lock:
            self.peak, self.active = 0, True

    def end(self) -> int:
        with self.lock:
            self.active = False
            return self.peak


# ---- the run -------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()

    missing = [p for p in ("binlogpipe/__init__.py", "binlogpipe/job.py",
                           "data/fixture_events.parquet",
                           "data/rare_events.parquet")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a binlogpipe checkout, missing {missing}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")]
                                  if p]),
               PYSPARK_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=str(work / "local"),
               TMPDIR=str(work / "tmp"),
               # not the 10g default: see "Session settings" in README.md
               SPARK_DRIVER_MEM="2g")
    r_fd, w_fd = os.pipe()
    log = open(work / "worker.log", "wb")
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", str(work), "--msg-fd", str(w_fd)],
        cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, pass_fds=(w_fd,), start_new_session=True)
    os.close(w_fd)
    tree = Tree(proc.pid)
    rss = PeakRss(tree)
    rss.start()

    lines: queue.Queue = queue.Queue()

    def reader() -> None:
        with os.fdopen(r_fd) as r:
            for line in r:
                lines.put(json.loads(line))
        lines.put(None)

    threading.Thread(target=reader, daemon=True).start()

    ops: list[dict] = []  # one per timed unit / traced unit / drain
    cur: dict | None = None
    setup_s, layers, done, killed = None, None, False, None
    try:
        while True:
            now = time.time()
            if now - t_begin > RUN_DEADLINE_S:
                killed = "run deadline"
            elif cur is not None and now - cur["t"] > OP_DEADLINE_S:
                killed = f"{cur['kind']} unit {cur['i']} deadline"
            if killed:
                tree.kill_all()
                break
            try:
                m = lines.get(timeout=0.2)
            except queue.Empty:
                continue
            if m is None:
                break
            ev = m["ev"]
            if ev == "setup":
                setup_s = m["setup_s"]
            elif ev == "op_start":
                cur = {"kind": m["kind"], "i": m["i"], "t": time.time(),
                       "cpu0": tree.sample()[0], "ok": False}
                ops.append(cur)
                rss.begin()
            elif ev == "op_end":
                cur.update(wall_s=m["wall_s"], events=m["events"],
                           cpu_s=tree.sample()[0] - cur["cpu0"],
                           rss=rss.end())
                cur = None
            elif ev == "check":
                op = ops[-1]
                op["ok"] = m["ok"] and "wall_s" in op
                if not m["ok"]:
                    print(f"check failed: {m['kind']} {m['i']}: "
                          f"{m['errors']}", file=sys.stderr)
            elif ev == "layers":
                layers = m["metrics"]
            elif ev == "done":
                done = True
    finally:
        rss.stop.set()
        if proc.poll() is None and not done:
            tree.kill_all()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            tree.kill_all()
            proc.wait()
        tree.kill_all()  # nothing the worker started may outlive the run
        log.close()

    rc = proc.returncode
    if killed or not done or rc != 0:
        tail = (work / "worker.log").read_text(errors="replace")[-3000:]
        print(f"perfbench: worker {'killed: ' + killed if killed else 'exit ' + str(rc)}"
              f"\n{tail}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:  # another run's work dir is still there
        pass

    timed = [o for o in ops if o["kind"] == "timed" and o["ok"]]
    failed = sum(not o["ok"] for o in ops)
    if setup_s is None or not timed or (args.trace and layers is None):
        print("perfbench: no complete timed unit, no result", file=sys.stderr)
        return 1

    def med(values) -> float:
        return statistics.median(list(values))

    if args.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "e2e_s": med(o["wall_s"] for o in timed),
            "events_per_s": med(o["events"] / o["wall_s"] for o in timed),
            "cpu_s": med(o["cpu_s"] for o in timed),
            "peak_rss_mb": med(o["rss"] for o in timed) / 2**20,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    print(f"workload={args.workload} seed={args.seed} ops={len(ops)} "
          f"failed_ops={failed} timed_units={len(timed)} "
          f"cores={len(os.sched_getaffinity(0))}")
    print("  unit wall_s: " + " ".join(f"{o['wall_s']:.3f}" for o in timed)
          + "  cpu_s: " + " ".join(f"{o['cpu_s']:.2f}" for o in timed)
          + "  rss_mb: " + " ".join(f"{o['rss'] / 2**20:.0f}" for o in timed))
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and done and rc == 0,
                      "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
