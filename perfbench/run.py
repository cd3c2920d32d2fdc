"""spark-extract benchmark: the extract and dedup jobs, one closed-loop
client each, checked against the DuckDB oracles.

    python3 perfbench/run.py --workload extract|dedup --seed N \\
        --seconds S --trace 0|1

One process, one long-lived session on ``local[<nproc>]`` (only the core
count is set; every other setting is ``session.get_spark``'s default).
Before the clock starts, the input is generated from ``--seed`` and the
oracle digests are computed. The first operation is the cold one; warm
operations follow back to back until they have run ``--seconds`` (at
least ``MIN_WARM`` of them). Every operation writes to a fresh
directory, and its outputs are compared with the oracle digests.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` records one
span per public call (see spans.py and ``jobs.SPANS``), runs at least
``MIN_WARM_TRACED`` warm operations and traces half of them to measure
the tracing overhead, writes the spans to
``.perfbench_work/trace-<workload>-<seed>.jsonl`` and prints the
per-layer metrics. The last stdout line is the result JSON; the line
before it carries the host and per-operation context.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_WARM = 2
MIN_WARM_TRACED = 4  # one round of untraced, traced, traced, untraced
DOCS_PER_SF = 50_000

# workload -> (default sf, input replication, oracle names)
WORKLOADS = {
    "extract": (0.1, 4, ("extract_spans",)),
    "dedup": (0.05, 1, ("dedup_keep_best", "dup_cluster_stats", "minhash_calibration")),
}

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s_p50": "s",
    "docs_per_s": "docs/s",
    "ok_frac": "ratio",
}

_SPAN_UNITS = {"call_s": "s", "jobs": "count", "exec_s": "s",
               "shuffle_mb": "MiB", "spill_mb": "MiB"}

# per-layer metrics that are not per span
OP_LAYER = {
    "session.get_spark.call_s": "s",
    "session.rss_mb_peak": "MiB",
    "op.build_s": "s",
    "op.action_s": "s",
    "op.busy": "ratio",
    "op.jobs": "count",
    "storage.rdds_end": "count",
    "storage.mb_end": "MiB",
    "trace.overhead_s": "s",
    "checkpoint.parts_committed": "count",
    "checkpoint.parts_total": "count",
    "dedup.keep_frac": "ratio",
    "dedup.clustered_docs": "count",
}


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit: ``OP_LAYER``, then each
    span of ``jobs.SPANS`` (imports the package)."""
    import jobs

    units = dict(OP_LAYER)
    for spans in jobs.SPANS.values():
        for name, (_, executes) in spans.items():
            for m in ("call_s", "jobs") + (("exec_s", "shuffle_mb", "spill_mb") if executes else ()):
                units[f"{name}.{m}"] = _SPAN_UNITS[m]
    return units


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _read_kb(path: str, key: str) -> float:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _host() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _read_kb("/proc/meminfo", "MemTotal") / 1024,
        "load_start": list(os.getloadavg()),
        "steal_s_start": _steal_s(),
    }


def _rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this (Spark driver) process plus the JVM."""
    kb = _read_kb("/proc/self/status", "VmHWM")
    if jvm_pid:
        kb += _read_kb(f"/proc/{jvm_pid}/status", "VmHWM")
    return kb / 1024


def _corrupt(path: str) -> None:
    """Drop the last row of one parquet file under ``path`` (test hook
    that proves a wrong output is counted as failed)."""
    import pyarrow.parquet as pq

    for d, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                f = os.path.join(d, name)
                t = pq.read_table(f)
                if t.num_rows:
                    pq.write_table(t.slice(0, t.num_rows - 1), f)
                    return


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale (documents = sf * 50000 * replication)")
    p.add_argument("--corrupt-op", type=int, default=None,
                   help="corrupt this operation's first output before checking it")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    host = _host()
    sys.path.insert(0, ROOT)
    try:
        import duckdb
        import jobs
        import oracle
        from pdf_ocr_comparison_tool_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    from spans import NO_TRACE, Tracer

    sf, replication, oracle_names = WORKLOADS[args.workload]
    n_docs = max(2, round((args.sf or sf) * DOCS_PER_SF * replication))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # keep every scratch write (shuffle files, JVM and Python temp
    # files) inside the work directory; -XX:-UsePerfData stops the JVM
    # writing its perf-counter file under /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    ).strip()
    os.chdir(work)

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=str(host["nproc"]))
    t_ready = time.perf_counter()
    setup_s = _process_age_s()
    from pyspark import SparkContext

    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    try:
        tracer = Tracer(spark) if args.trace else NO_TRACE
        if args.trace:
            tracer.spans.append({"name": "session.get_spark", "op": -1, "parent": None,
                                 "action": False, "start": t0, "end": t_ready,
                                 "call_s": t_ready - t0, "jobs": 0})
        sf_dir = gen.write_sf_dir(os.path.join(work, "input"), args.seed, n_docs)
        con = duckdb.connect(config={"threads": host["nproc"],
                                     "temp_directory": os.path.join(work, "tmp")})
        want = oracle.expected(con, sf_dir, oracle_names)
        job = jobs.JOBS[args.workload]
        flags = jobs.SPANS[args.workload]

        ops = []
        warm_s = 0.0
        min_warm = MIN_WARM_TRACED if args.trace else MIN_WARM
        while len(ops) < 1 + min_warm or warm_s < args.seconds:
            i = len(ops)
            # traced runs trace the cold operation, then the warm ones
            # in the order untraced, traced, traced, untraced, ... so a
            # warm-up trend cancels out of the tracing overhead
            traced = bool(args.trace) and (i == 0 or (i - 1) % 4 in (1, 2))
            span_src = tracer if traced else NO_TRACE

            def span(name, src=span_src):
                return src.span(name, action=flags[name][0])

            tracer.op = i
            out = os.path.join(work, f"out-{i}")
            rec = {"op": i, "traced": traced, "ok": False}
            t = time.perf_counter()
            try:
                res = job(spark, sf_dir, out, f"op{i}", span)
            except Exception as e:  # a raising operation is a failed one
                rec["wall_s"] = time.perf_counter() - t
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
                print(f"perfbench: op {i} raised {rec['error']}", file=sys.stderr)
            else:
                rec["wall_s"] = time.perf_counter() - t
                if args.corrupt_op == i:
                    _corrupt(next(iter(res["outputs"].values())))
                bad = [n for n, path in res["outputs"].items()
                       if oracle.written(con, n, path) != want[n]]
                rec["ok"] = not bad
                rec["mismatch"] = bad
                rec["counts"] = res["counts"]
                if bad:
                    print(f"perfbench: op {i} output differs from the oracle: {bad}",
                          file=sys.stderr)
            if traced:
                rec.update(tracer.storage())
                rec["rss_mb_peak"] = _rss_peak_mb(jvm_pid)
            ops.append(rec)
            shutil.rmtree(out, ignore_errors=True)
            if i > 0:
                warm_s += rec["wall_s"]
        con.close()
    finally:
        _stop(spark)

    host["steal_s_run"] = _steal_s() - host.pop("steal_s_start")
    failed = sum(not o["ok"] for o in ops)
    warm = ops[1:]
    context = {
        "workload": args.workload, "seed": args.seed, "docs": n_docs,
        "host": host, "warm_ops": len(warm),
        "failed_frac": failed / len(ops),
        "ops": [{k: v for k, v in o.items() if k != "counts"} for o in ops],
    }
    if args.trace:
        metrics = _per_layer(tracer, ops, host["nproc"])
        tracer.dump(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        walls = [o["wall_s"] for o in warm]
        values = {
            "setup_s": setup_s,
            "cold_job_s": ops[0]["wall_s"],
            "job_s_p50": statistics.median(walls),
            "docs_per_s": n_docs * len(walls) / sum(walls),
            "ok_frac": 1 - failed / len(ops),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def _per_layer(tracer, ops: list, cores: int) -> dict:
    """Median over the traced warm operations (the cold one when no
    warm operation was traced) of each per-layer metric."""
    traced = [o for o in ops[1:] if o["traced"]] or ops[:1]
    untraced = [o for o in ops[1:] if not o["traced"]]
    picked = {o["op"] for o in traced}
    units = per_layer_units()
    per_op = {i: {} for i in picked}
    for s in tracer.spans:
        if s["op"] not in picked:
            continue
        m = per_op[s["op"]]
        for k in ("call_s", "jobs", "exec_s", "shuffle_mb", "spill_mb"):
            key = f"{s['name']}.{k}"
            m[key] = m.get(key, 0.0) + s.get(k, 0.0)
        phase = "op.action_s" if s["action"] else "op.build_s"
        m[phase] = m.get(phase, 0.0) + s["call_s"]
        m["op.jobs"] = m.get("op.jobs", 0.0) + s["jobs"]
        m["_exec"] = m.get("_exec", 0.0) + s["exec_s"]
    by_op = {o["op"]: o for o in traced}
    for i, m in per_op.items():
        o = by_op[i]
        m["op.busy"] = m.pop("_exec", 0.0) / (o["wall_s"] * cores)
        m["storage.rdds_end"] = o["rdds"]
        m["storage.mb_end"] = o["mb"]
        m.update(o.get("counts", {}))
    values = {k: statistics.median(m.get(k, 0.0) for m in per_op.values())
              for k in units}
    values["session.get_spark.call_s"] = tracer.spans[0]["call_s"]
    values["session.rss_mb_peak"] = max(o["rss_mb_peak"] for o in ops if o["traced"])
    values["trace.overhead_s"] = (
        statistics.median(o["wall_s"] for o in traced)
        - statistics.median(o["wall_s"] for o in untraced)
        if untraced else 0.0
    )
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
