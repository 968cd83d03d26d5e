"""Extraction-job benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload full_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. A closed loop: one job at a time from this
process, on local[nproc]. The run generates its inputs from the seed,
starts the session (timed as set-up), runs untimed warm-up jobs, then
runs jobs back to back for --seconds and checks every job's outputs.
The last line of stdout is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Logs go to stderr. Scratch files live under perfbench/.work. Before
it prints, the run waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

# The JVM heap is fixed and pre-touched. G1 otherwise grows the heap as
# its heuristics decide, which made the combined peak RSS of one job
# spread by 15-20% across seeds. With the heap fixed, peak_rss_mb moves
# with what the program adds on top of it (Python workers, Arrow
# buffers, metaspace), and the peak use of the heap's survivor and old
# pools is the per-layer memory.jvm_heap_peak_mb.
DRIVER_MEM = "2g"
LAYERS = ("session", "sources", "textproc", "extractor", "job", "lineage",
          "crawl", "dedup", "curation", "bench")
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>
GRACE_S = 10.0  # per step when ending leftover processes


def _source_key(root: str) -> str:
    """Hash of the benchmark and program sources: oracle digests cached
    under one key are valid only for that code."""
    h = hashlib.blake2b(digest_size=8)
    for base in ("perfbench", "ocr_poc_spark"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _start_session(cores: int, tmp: str, tracer):
    """Launch the JVM and session, then warm one Python worker per core.
    Returns (spark, start_s, warm_s)."""
    from ocr_poc_spark.plans.job import extract_fused
    from ocr_poc_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = get_spark(
            "perfbench", cpus=cores,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.driver.extraJavaOptions":
                    # no hsperfdata file: the JVM writes it outside java.io.tmpdir
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            },
        )
    t1 = time.perf_counter()
    with tracer.span("session", "warm"):
        warm = spark.range(cores * 16).selectExpr(
            "cast(id as string) as url",
            "cast('<html><body><p>warm up</p></body></html>' as binary) as html",
        ).repartition(cores)
        extract_fused(warm).write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit, also when stopping
    the session fails (a signal can leave py4j mid-command). The Python
    daemon and workers the JVM leaves are _end_descendants' to wait for."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
        gw.shutdown()
    finally:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _adopt_orphans() -> None:
    """Become a child subreaper: processes that our descendants leave
    behind (the Python daemon the JVM forks and its workers, the
    launcher's shell) are re-parented to this process, not to init, so
    that _end_descendants can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_descendants() -> None:
    """Wait until every process the run started, directly or not, has
    ended, and reap it. Stragglers get GRACE_S seconds to exit on their
    own (Spark's daemon exits within a second of the JVM), then SIGTERM,
    then SIGKILL."""
    from perfbench.procmon import tree

    me = os.getpid()
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass  # no children left
        live = [p for p in tree(me) if p != me]
        if not live:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > 2 * GRACE_S
               else signal.SIGTERM if waited > GRACE_S else None)
        if waited > 3 * GRACE_S:
            raise RuntimeError(f"processes {live} did not end")
        if sig is not None and sig != sent:
            for p in live:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _on_sigterm(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ocr_poc_spark", "__init__.py")):
        print("perfbench: ocr_poc_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[0] = root  # the package root, not perfbench/ itself

    from perfbench.oracle import KernelPool
    from perfbench.procmon import PeakMem
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, "perfbench", ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "oracle"), exist_ok=True)
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    # Everything the run and its children write stays under run_dir.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    _adopt_orphans()
    kernel_pool = KernelPool()
    # SIGTERM unwinds through the finally below, like an exception; a
    # second one must not cut that short.
    signal.signal(signal.SIGTERM, _on_sigterm)
    marks = [("start", time.perf_counter())]  # phase ends, logged to stderr
    try:
        wl = WORKLOADS[args.workload](
            args.seed, run_dir, tracer, kernel_pool,
            os.path.join(work, "oracle"), _source_key(root),
        )
        if args.trace:
            # An input no Spark worker will have seen, with a timed kernel
            # pass over it before the JVM starts, so nothing competes.
            with tracer.span("bench", "kernel_pass"):
                probe = wl.make_input("probe")
                kernel = kernel_pool.run(probe.kernel, timed=True)
                for r in kernel:
                    # extract_document (t1..t2) parses the page again; its
                    # parse, timed just before as t0..t1, is the child span.
                    eid = tracer.add("extractor", "extract_document", r[5], r[6])
                    tracer.add("textproc", "sniff_and_parse",
                               r[5], min(r[5] + r[5] - r[4], r[6]), eid)

        spark, start_s, warm_s = _start_session(cores, tmp, tracer)
        marks.append(("session", time.perf_counter()))
        problems = wl.prepare(spark)
        marks.append(("prepare", time.perf_counter()))
        attempted = failed = 0
        for i in range(wl.warmup_jobs):  # untimed, but checked
            _, n, bad, why = wl.run(spark, -1 - i)
            attempted += n
            failed += bad
            problems += why
        marks.append(("warmup", time.perf_counter()))
        for part in wl.parts.values():
            part.clear()
        job_s: list[float] = []
        traced_s: list[float] = []
        written: list[int] = []
        peaks: list[PeakMem] = []
        t_end = time.perf_counter() + args.seconds
        i = 1
        # At least two jobs, so that the median damps one slow job. Traced
        # runs alternate traced and untraced jobs, traced first, at least
        # traced-untraced-traced so that a warming trend cancels: the
        # difference of their medians is the overhead.
        min_jobs = 3 if args.trace else 2
        while time.perf_counter() < t_end or len(job_s) + len(traced_s) < min_jobs:
            tracer.enabled = bool(args.trace) and i % 2 == 1
            tracer.run_id = f"job{i}"
            try:
                with tracer.span("bench", "job"), PeakMem(spark) as mem:
                    secs, n, bad, why = wl.run(spark, i)
            except Exception as e:  # a job call that raised is a failed operation
                secs, n, bad, why = None, 1, 1, [f"job {i} raised {e!r}"]
            attempted += n
            failed += bad
            problems += why
            if secs is not None:
                (traced_s if tracer.enabled else job_s).append(secs)
                written.append(wl.written())
                peaks.append(mem)
            i += 1

        marks.append(("window", time.perf_counter()))
        print(f"perfbench: {args.workload} seed {args.seed}: setup {start_s:.2f}+{warm_s:.2f} s,"
              f" jobs {[round(x, 3) for x in job_s]} traced {[round(x, 3) for x in traced_s]}"
              f" peak/python/heap MB {[(m.peak >> 20, m.python >> 20, m.heap >> 20) for m in peaks]}"
              f" parts { {k: [round(x, 3) for x in v] for k, v in wl.parts.items()} }"
              f" phases { {b[0]: round(b[1] - a[1], 1) for a, b in zip(marks, marks[1:])} }",
              file=sys.stderr)
        med = statistics.median(job_s or traced_s)
        if not args.trace:
            metrics = {
                "job_s": med,
                "pages_per_s": wl.pages_per_job / med,
                "setup_s": start_s + warm_s,
                "ok_ratio": 1 - failed / max(1, attempted),
                "write_amp": statistics.median(written) / wl.job_input_bytes(),
                "peak_rss_mb": statistics.median(m.peak for m in peaks) / 2**20,
            }
        else:
            tracer.enabled = True
            layer = wl.probes(spark, cores, med, probe, kernel)
            layer["session.start_s"] = start_s
            layer["session.warm_s"] = warm_s
            layer["memory.python_peak_mb"] = statistics.median(m.python for m in peaks) / 2**20
            layer["memory.jvm_heap_peak_mb"] = statistics.median(m.heap for m in peaks) / 2**20
            layer["trace.overhead_s"] = (
                statistics.median(traced_s) - med if traced_s else 0.0
            )
            for name, secs in tracer.self_times().items():
                layer[f"self.{name}_s"] = secs
            for name in LAYERS:
                layer.setdefault(f"self.{name}_s", 0.0)
            tracer.write(os.path.join(
                work, "traces", f"{args.workload}-{args.seed}.jsonl"))
            metrics = layer
    finally:
        kernel_pool.close()
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            _end_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    # BENCHMARK.json declares every metric name and unit; emit exactly those.
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {d["name"]: d["unit"] for d in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
