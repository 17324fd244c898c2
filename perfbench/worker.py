"""The Spark side of one benchmark run (started by ``perfbench/run.py``).

Generates the workload input, starts the session, runs one untimed
warm-up pipeline, then timed ``job.run_pipeline`` units for ``--seconds``
with every output checked outside the timed region. With ``--trace 1`` it
then restarts the SparkContext with the event log on, runs traced units
and a streaming drain of the same input, and folds the log into
per-layer metrics.

Progress goes to ``--msg-fd`` as one JSON object per line, so the parent
can time each unit, sample the process tree and enforce deadlines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import eventlog  # noqa: E402  (perfbench/ is sys.path[0])
import gen  # noqa: E402


# ---- output checks (pure pyarrow, outside every timed region) ------------

def _rows(path: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in path.rglob("*.parquet"))


def _input_bytes(inp: pa.Table) -> pa.Table:
    """(doc_id, packed token bytes) of the input, sorted by doc_id."""
    tok = inp["tokens"].combine_chunks()
    vals = tok.values.to_numpy()
    if vals.min() < 0 or vals.max() > 255:
        raise ValueError("input token outside 0..255")
    packed = pa.Array.from_buffers(
        pa.binary(), len(tok),
        [None, pa.py_buffer(tok.offsets.to_numpy().astype("int32")),
         pa.py_buffer(vals.astype("uint8"))])
    t = pa.table({"doc_id": inp["doc_id"].combine_chunks(), "bin": packed})
    return t.sort_by("doc_id")


def parse_errors(out: Path) -> int:
    """Rows with a non-null ``parse_error`` over all typed sinks."""
    n = 0
    for sink in (out / "sinks").iterdir():
        t = ds.dataset(sink, format="parquet")
        if "parse_error" in t.schema.names:
            n += t.count_rows(filter=pc.field("parse_error").is_valid())
    return n


def check_batch(out: Path, expected: dict, want: pa.Table) -> list[str]:
    """Every mismatch between one run_pipeline output and the generator."""
    errs = []
    sinks = expected["sinks"]
    routed = {p.name.split("=", 1)[1]: _rows(p)
              for p in (out / "routed").glob("sink=*")}
    if routed != sinks:
        errs.append(f"routed counts {routed} != {sinks}")
    typed = {p.name: _rows(p) for p in (out / "sinks").iterdir()}
    if typed != sinks:
        errs.append(f"sink counts {typed} != {sinks}")
    agg = pq.read_table(out / "agg" / "sink_counts").to_pydict()
    if dict(zip(agg["sink"], agg["n"])) != sinks:
        errs.append("agg/sink_counts differs from the generator")
    lin = pq.read_table(out / "lineage", columns=["rows_in"])
    if pc.sum(lin["rows_in"]).as_py() != expected["events"]:
        errs.append("lineage rows_in does not sum to the input")
    got = (ds.dataset(out / "routed", format="parquet", partitioning="hive")
           .to_table(columns=["doc_id", "tokens_bin"]).sort_by("doc_id"))
    if got.num_rows != want.num_rows or not (
            pc.all(pc.equal(got["doc_id"], want["doc_id"])).as_py()
            and pc.all(pc.equal(got["tokens_bin"], want["bin"])).as_py()):
        errs.append("routed tokens_bin differs from the input tokens")
    if n := parse_errors(out):  # every generated event decodes cleanly
        errs.append(f"{n} sink rows carry a parse_error")
    return errs


# ---- tracing hooks -------------------------------------------------------

def record_writes(calls: list) -> None:
    """Time every DataFrameWriter.parquet/save call by output path."""
    from pyspark.sql.readwriter import DataFrameWriter

    def wrap(fn):
        def timed(self, path=None, *a, **k):
            t0 = time.time()
            try:
                return fn(self, path, *a, **k)
            finally:
                calls.append((str(path), t0, time.time()))
        return timed

    DataFrameWriter.parquet = wrap(DataFrameWriter.parquet)
    DataFrameWriter.save = wrap(DataFrameWriter.save)


def stream_drain(spark, inp: Path, out: Path, ck: Path, batches: int):
    """Drain ``inp`` one file per micro-batch; return the progress dicts."""
    from pyspark.sql.streaming import StreamingQueryListener

    from binlogpipe import streaming

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.seen: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        streaming.run_full_available_now(spark, str(inp), str(out), str(ck),
                                         max_files_per_trigger=1)
        deadline = time.time() + 10  # progress events arrive asynchronously
        while (sum(p["numInputRows"] > 0 for p in listener.seen) < batches
               and time.time() < deadline):
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    return [p for p in listener.seen if p["numInputRows"] > 0]


# ---- the run -------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--msg-fd", type=int, required=True)
    args = ap.parse_args()
    msg = os.fdopen(args.msg_fd, "w", buffering=1)

    def send(**kv) -> None:
        msg.write(json.dumps(kv) + "\n")

    work = args.work
    expected = gen.build(ROOT, args.workload, args.seed, work / "input")
    inp = work / "input" / "input.parquet"
    want = _input_bytes(pq.read_table(inp))
    events = expected["events"]

    from binlogpipe import job
    from binlogpipe.session import build_spark

    # The heap is committed and touched at JVM start, so the JVM's RSS does
    # not follow when G1 chose to grow the heap during the unit (that alone
    # moved peak RSS by hundreds of MB between runs of the same input).
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch",
    }
    cores = len(os.sched_getaffinity(0))
    app = f"perfbench-{args.workload}"

    def unit(spark, out: Path, kind: str, i: int) -> tuple[float, float]:
        """One run_pipeline call plus its output check."""
        send(ev="op_start", kind=kind, i=i)
        t0 = time.time()
        try:
            job.run_pipeline(spark, str(inp), str(out), run_id=f"{kind}{i}",
                             resume=False)
            errs = []
        except Exception as e:  # noqa: BLE001 — a failed unit is counted
            errs = [f"run_pipeline raised {e!r}"]
        t1 = time.time()
        send(ev="op_end", kind=kind, i=i, wall_s=t1 - t0, events=events)
        if not errs:
            errs = check_batch(out, expected, want)
        send(ev="check", kind=kind, i=i, ok=not errs, errors=errs[:3])
        return t0, t1

    t0 = time.time()
    spark = build_spark(app=app, cores=cores, extra_conf=conf)
    warm = work / "out" / "warmup"
    job.run_pipeline(spark, str(inp), str(warm), run_id="warmup",
                     resume=False)
    send(ev="setup", setup_s=time.time() - t0)
    errs = check_batch(warm, expected, want)
    if errs:
        raise SystemExit(f"warm-up output is wrong: {errs[:3]}")
    shutil.rmtree(warm)

    # a traced run times one untraced unit: its overhead reference
    walls, timed, i = [], 0.0, 0
    while i == 0 or (timed < args.seconds and not args.trace):
        out = work / "out" / f"u{i}"
        s, e = unit(spark, out, "timed", i)
        walls.append(e - s)
        timed += e - s
        shutil.rmtree(out)
        i += 1

    if args.trace:
        spark.stop()
        logs = work / "eventlog"
        logs.mkdir()
        spark = build_spark(app=app, cores=cores, extra_conf=dict(conf, **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs.as_uri(),
            "spark.eventLog.compress": "false",
        }))
        writes: list[tuple[str, float, float]] = []
        record_writes(writes)
        out = work / "out" / "traced"
        s, e = unit(spark, out, "traced", 0)
        send(ev="op_start", kind="stream", i=0)
        s_start = time.time()
        progress = stream_drain(spark, work / "input" / "stream",
                                work / "stream_out", work / "stream_ck",
                                expected["stream_files"])
        s_end = time.time()
        send(ev="op_end", kind="stream", i=0, wall_s=s_end - s_start,
             events=events)
        got = {p.name: _rows(p) for p in (work / "stream_out" / "sinks")
               .iterdir()}
        serrs = ([] if got == expected["sinks"]
                 else [f"stream counts {got} != {expected['sinks']}"])
        if len(progress) != expected["stream_files"]:
            serrs.append(f"{len(progress)} micro-batches, expected "
                         f"{expected['stream_files']}")
        send(ev="check", kind="stream", i=0, ok=not serrs, errors=serrs)
        spark.stop()

        fold = eventlog.Fold(logs)
        layers = eventlog.unit_layers(fold, s, e, str(out), events,
                                      [w for w in writes if s <= w[1] <= e])
        layers["decode.parse_errors"] = parse_errors(out)
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
        layers.update({
            "streaming.batch_p50_s": statistics.median(trig),
            "streaming.add_batch_p50_s": statistics.median(add),
            "streaming.overhead_p50_s":
                statistics.median(t - a for t, a in zip(trig, add)),
            "streaming.jobs_per_batch":
                fold.jobs_between(s_start, s_end) / len(progress),
            "trace.overhead_s": (e - s) - walls[0],
        })
        send(ev="layers", metrics=layers)
    else:
        spark.stop()
    send(ev="done")


if __name__ == "__main__":
    main()
