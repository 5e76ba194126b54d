"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. A run

1. runs the DuckDB oracles over the workload's inputs in
   ``perfbench/data`` (answers are cached per input directory);
2. sets up the Spark session: ``session.get_spark``, which launches
   the JVM, plus one warm-up query;
3. runs one warm-up pass that is not timed and checks every output
   against its DuckDB oracle, then a second untimed pass through the
   timed code path;
4. times passes for ``--seconds`` seconds, and at least three,
   collecting garbage in both heaps between passes. On
   curation ``--seed`` shuffles the query order of each pass; the ETL
   flow's order is fixed, so there the seed changes nothing.

With ``--trace 0`` all passes are untraced and the end-to-end metrics
are reported. With ``--trace 1`` untraced and traced passes alternate:
traced passes tag every build and sink with a Spark job group, read
the jobs, stages and SQL executions back from Spark's status stores
after the pass, and write spans (pass -> unit -> build/sink -> job);
the per-layer metrics come from the traced passes and the tracing
overhead from comparing the two kinds.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run's context. The full
record (context, samples, self-check) is written under
``.perfbench/out/`` in the checkout. Exits 2 when the engine's
sources or the benchmark's inputs are not in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: build + plan + exec time of a traced pass must cover at least this
#: share of its wall; the rest is Python time between Spark executions
MIN_COVERAGE = 0.95
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s: {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    work directory, and default the core count to at most four."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0))))
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    tempfile.tempdir = tmp
    os.chdir(work)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def table_stats(data_dir: str, tables: list[str]) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        out[t] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return out


def oracle_answers(data_dir: str, tables: list[str], sqls: dict) -> dict:
    """``name -> [sorted columns, row count, order-insensitive hash]``
    of each oracle SQL run on DuckDB over the input tables, with the
    value hash of tools/check_oracle. Answers are cached in
    ``.perfbench/oracle/``, one file per input directory, keyed by the
    SQL text and the input sizes, so a checkout pays for them once."""
    import duckdb
    from tools.check_oracle import _hash_rows

    os.makedirs(os.path.join(STATE, "oracle"), exist_ok=True)
    path = os.path.join(STATE, "oracle", os.path.basename(data_dir) + ".json")
    sizes = json.dumps(sorted(table_stats(data_dir, tables).items()))
    try:
        with open(path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    con = None
    for name, sql in sqls.items():
        key = hashlib.sha256((sizes + sql).encode()).hexdigest()
        if cache.get(name, {}).get("sql") == key:
            continue
        if con is None:
            con = duckdb.connect()
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'"
                )
        rel = con.sql(sql)
        cols, rows = list(rel.columns), rel.fetchall()
        cache[name] = {"sql": key, "answer": [sorted(cols), len(rows), _hash_rows(cols, rows)]}
    if con is not None:
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {name: cache[name]["answer"] for name in sqls}


def compare(cols, rows, expected) -> str | None:
    from tools.check_oracle import _hash_rows

    ecols, nrows, ehash = expected
    rows = [tuple(r) for r in rows]
    if sorted(cols) != ecols:
        return f"columns {sorted(cols)} != oracle {ecols}"
    if len(rows) != nrows:
        return f"{len(rows)} rows != oracle {nrows}"
    if _hash_rows(cols, rows) != ehash:
        return "value hash differs from the oracle's"
    return None


class Runner:
    def __init__(self, spark, workload, inputs, stats, spans):
        self.spark, self.wl, self.stats, self.spans = spark, workload, stats, spans
        self.input_bytes = sum(v["bytes"] for v in inputs.values())
        self.failed = 0

    def run_pass(self, k: int, units, traced: bool) -> dict:
        """Run every unit once; return the pass record."""
        execs, failed = [], 0
        t_pass, e_pass = time.perf_counter(), time.time()
        for u in units:
            group, step = f"p{k}/{u.name}", "build"
            try:
                if traced:
                    self.stats.set_group(group + "/build")
                e0, t0 = time.time(), time.perf_counter()
                obj = u.build()
                e1, t1 = time.time(), time.perf_counter()
                step = "sink"
                if traced:
                    self.stats.set_group(group + "/sink")
                u.sink(obj)
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - counted, named, skipped
                failed += 1
                log(f"{u.name} failed in {step}:\n{traceback.format_exc()}")
                continue
            execs.append({
                "unit": u.name, "group": group, "start": e0, "sink_call": e1,
                "build_s": t1 - t0, "sink_s": t2 - t1,
            })
        wall = time.perf_counter() - t_pass
        if traced:
            self.stats.set_group("untraced")
        nbytes, nfiles = self.wl.written()
        rec = {
            "pass": k, "traced": traced, "wall_s": wall, "start": e_pass,
            "failed": failed, "execs": execs,
            "bytes_written": nbytes, "files_written": nfiles,
        }
        if traced:
            rec["layers"] = self.layers(rec)
        self.failed += failed
        return rec

    def layers(self, rec: dict) -> dict:
        """Per-layer totals of one traced pass, read from the status
        store; also writes the pass's spans."""
        st = self.stats
        st.drain()
        executions = st.new_executions()
        pid = f"p{rec['pass']}"
        self.spans({"span": "pass", "id": pid, "start": rec["start"],
                    "end": rec["start"] + rec["wall_s"]})
        build_s = plan_s = write_s = driver_s = build_job_s = 0.0
        build_jobs = sink_jobs = 0
        sink_stages, build_stages = [], []
        for x in rec["execs"]:
            g = x["group"]
            bj, sj = st.jobs(g + "/build"), st.jobs(g + "/sink")
            end = x["sink_call"] + x["sink_s"]
            # The sink's root SQL executions; their times are whole
            # milliseconds, hence the slack at the window's edges.
            ex = [
                (e["submitted"], e["completed"] or e["submitted"])
                for e in executions
                if x["sink_call"] - 0.001 <= e["submitted"] <= end + 0.001
            ]
            jobs = [(j["submitted"], j["completed"]) for j in sj
                    if j["submitted"] and j["completed"]]
            plan = plan_time(x["sink_call"], end, ex, jobs)
            write = busy_time(jobs)
            driver = busy_time(ex + jobs) - write
            build_s += x["build_s"]
            plan_s += plan
            write_s += write
            driver_s += driver
            build_jobs += len(bj)
            sink_jobs += len(sj)
            build_job_s += sum(
                j["completed"] - j["submitted"]
                for j in bj if j["submitted"] and j["completed"]
            )
            for j in bj:
                build_stages += j["stages"]
            for j in sj:
                sink_stages += j["stages"]
            self.spans({"span": "unit", "id": g, "parent": pid,
                        "start": x["start"], "end": end})
            self.spans({"span": "build", "id": g + "/build", "parent": g,
                        "start": x["start"], "end": x["sink_call"]})
            self.spans({"span": "sink", "id": g + "/sink", "parent": g,
                        "start": x["sink_call"], "end": end, "plan_s": plan,
                        "jobs_s": write, "driver_s": driver})
            for kind, jobs in (("build", bj), ("sink", sj)):
                for j in jobs:
                    self.spans({"span": "job", "id": f"job{j['job']}",
                                "parent": f"{g}/{kind}", "start": j["submitted"],
                                "end": j["completed"], "status": j["status"],
                                "stages": j["stages"]})
        ex = st.stage_totals(sink_stages)
        failed_tasks = ex["failed_tasks"] + st.stage_totals(build_stages)["failed_tasks"]
        cores = self.spark.sparkContext.defaultParallelism
        wall = rec["wall_s"]
        units = {x["unit"]: x["build_s"] + x["sink_s"] for x in rec["execs"]}
        return {
            "plans.build_s": build_s,
            "plans.build_share": build_s / wall,
            "plans.build_jobs": build_jobs,
            "plans.build_job_s": build_job_s,
            "catalyst.plan_s": plan_s,
            "exec.write_s": write_s,
            "exec.driver_s": driver_s,
            "exec.jobs": sink_jobs,
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.executor_run_s": ex["executor_run_s"],
            "exec.core_util": ex["executor_run_s"] / (write_s * cores) if write_s else 0.0,
            "exec.scan_bytes": ex["scan_bytes"],
            "exec.scan_rows": ex["scan_rows"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.shuffle_fetch_wait_s": ex["shuffle_fetch_wait_s"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.gc_s": ex["gc_s"],
            "exec.failed_tasks": failed_tasks,
            # ETL flow steps; a workload without them bypasses sources
            "sources.land_s": units.get("land", 0.0),
            "sources.materialize_s": units.get("materialize", 0.0),
            "sources.analyze_s": units.get("analyze", 0.0),
            "sources.bytes_written": rec["bytes_written"],
            "sources.files_written": rec["files_written"],
            "sources.write_amp": rec["bytes_written"] / self.input_bytes,
            "trace.coverage": (build_s + plan_s + write_s + driver_s) / wall,
            "trace.unattributed_s": wall - build_s - plan_s - write_s - driver_s,
        }


def busy_time(spans) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for a, b in sorted(spans):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def plan_time(start: float, end: float, executions, jobs) -> float:
    """Catalyst time of a sink running from ``start`` to ``end``: the
    driver time before each of its SQL executions, counted from the
    sink call or from the end of the execution or job before it.
    Spark starts an execution once the command's physical plan is
    ready, so each gap is that command's analysis, optimization and
    planning. Executions and jobs are ``(start, end)`` pairs."""
    total, since = 0.0, start
    spans = [(a, b, True) for a, b in executions] + [(a, b, False) for a, b in jobs]
    for a, b, is_execution in sorted(spans):
        if is_execution:
            total += max(0.0, a - since)
        since = max(since, b)
    return min(total, end - start)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from fifa_data_pipeline_spark.plans import registry
        from fifa_data_pipeline_spark.session import get_spark
        import tools.check_oracle  # noqa: F401 - the oracle hash
    except ImportError as exc:
        log(f"the engine's sources are not importable from {ROOT}: {exc}")
        return 2
    import sparkstats
    from workloads import WARMUP_DIR, WARMUP_QUERY, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    W = WORKLOADS[args.workload]
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    log("engine imported")

    try:
        inputs = table_stats(W.data_dir, W.tables)
    except OSError as exc:
        log(f"the benchmark's inputs are missing: {exc}")
        return 2
    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    wl = W(work)
    checks = wl.checks()
    answers = oracle_answers(W.data_dir, W.tables, {n: sql for n, sql, _ in checks})
    isolate(work)

    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{W.name}-seed{args.seed}-trace{args.trace}")
    spans_f = open(stem + ".spans.jsonl", "w") if args.trace else None

    def spans(rec):
        spans_f.write(json.dumps(rec) + "\n")

    spark = None
    try:
        # The set-up a user pays for: launch the JVM, then run a first
        # query in it.
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        registry.QUERIES[WARMUP_QUERY](spark, WARMUP_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        get_spark_s, warmup_s = t1 - t0, time.perf_counter() - t1
        log(f"set-up: get_spark {get_spark_s:.3f} s + warm-up {warmup_s:.3f} s")

        wl.spark = spark
        runner = Runner(spark, wl, inputs, sparkstats.StatusStore(spark), spans)

        # Warm-up pass, not timed: every output is checked here.
        verify = {}
        for name, _, collect in checks:
            try:
                cols, rows = collect()
                verify[name] = compare(cols, rows, answers[name])
            except Exception as exc:  # noqa: BLE001 - counted as failed
                verify[name] = f"raised {exc!r:.500}"
                log(traceback.format_exc())
            if verify[name]:
                log(f"{name} is wrong: {verify[name]}")
        log("checked outputs")

        rng = random.Random(args.seed)
        units = wl.units()
        jvm = spark.sparkContext._jvm
        # One more untimed pass through the timed code path (noop and
        # file sinks instead of collects), so that the first timed
        # pass does not pay for compiling it.
        wl.before_pass()
        warm = runner.run_pass(-1, units, False)
        log(f"warm-up pass: {warm['wall_s']:.3f} s")
        passes = []
        t_start = time.perf_counter()
        # At least three passes, so that the median drops one slow
        # pass. A traced run alternates untraced, traced, untraced
        # passes: the overhead compares the traced pass with its two
        # neighbours, which cancels a steady warm-up drift.
        while len(passes) < 3 or time.perf_counter() - t_start < args.seconds:
            order = list(units)
            if wl.permute:
                rng.shuffle(order)
            gc.collect()
            jvm.System.gc()
            wl.before_pass()
            traced = bool(args.trace) and len(passes) % 2 == 1
            cpu0 = sparkstats.cpu_s()
            passes.append(runner.run_pass(len(passes), order, traced))
            passes[-1]["cpu_s"] = sparkstats.cpu_s() - cpu0
            log(f"pass {len(passes) - 1}{' traced' if traced else ''}: "
                f"{passes[-1]['wall_s']:.3f} s")

        log("timed passes done")
        peak_rss = sparkstats.peak_rss_mb()
        steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
        context = {
            "workload": W.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            # share of the machine's CPU time the hypervisor took away
            "cpu_steal_frac": steal / max(1, total),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "inputs": inputs,
            "input_dir": os.path.relpath(W.data_dir, ROOT),
            "queries": [u.name for u in units],
        }
    finally:
        if spans_f:
            spans_f.close()
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    good = [p for p in passes if not p["failed"]]
    attempted = len(verify) + sum(
        len(p["execs"]) + p["failed"] for p in [warm] + passes
    )
    failed = sum(1 for v in verify.values() if v) + runner.failed
    if args.trace:
        traced = [p for p in good if p["traced"]]
        plain = [p for p in good if not p["traced"]]
        layer_names = list(traced[0]["layers"]) if traced else []
        metrics = {
            n: median([p["layers"][n] for p in traced]) for n in layer_names
        }
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        metrics["session.peak_rss_mb"] = peak_rss
        tw, uw = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in plain])
        metrics["trace.overhead_frac"] = tw / uw - 1 if uw else 0.0
    else:
        times = [x["build_s"] + x["sink_s"] for p in good for x in p["execs"]]
        # The queries' times form one cluster per query, and the median
        # of all executions falls in a gap between two clusters; the
        # median of each query's own median does not.
        per_query: dict = {}
        for p in good:
            for x in p["execs"]:
                per_query.setdefault(x["unit"], []).append(x["build_s"] + x["sink_s"])
        pass_s = median([p["wall_s"] for p in good])
        rows = sum(v["rows"] for v in inputs.values())
        metrics = {
            "setup_s": get_spark_s + warmup_s,
            "pass_s": pass_s,
            "query_s.p50": median([median(v) for v in per_query.values()]),
            "throughput_rows_per_s": rows / pass_s if pass_s else 0.0,
        }
        context["samples"] = {
            "setup_s": 1, "pass_s": len(good),
            "query_s.p50": len(times), "throughput_rows_per_s": len(good),
        }
        # Recorded, not gated: over a run's few executions this is the
        # slowest query's time, which pass_s already follows.
        context["query_s.p90"] = p90(times)
    selfcheck = None
    if args.trace:
        op, bound = W.build_share
        share = metrics.get("plans.build_share", 0.0)
        cov = metrics.get("trace.coverage", 0.0)
        selfcheck = {
            "coverage": cov,
            "coverage_expected": f">= {MIN_COVERAGE}",
            "coverage_ok": MIN_COVERAGE <= cov <= 1.01,
            "unattributed_s": metrics.get("trace.unattributed_s", 0.0),
            "build_share": share,
            "build_share_expected": f"{op} {bound}",
            "build_share_ok": share >= bound if op == ">=" else share <= bound,
        }
        if not (selfcheck["coverage_ok"] and selfcheck["build_share_ok"]):
            log(f"self-check failed: {selfcheck}")
    # BENCHMARK.json names every metric a run reports, with its unit.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared
        },
    }
    log("stopped")
    with open(stem + ".json", "w") as f:
        json.dump({"context": context, "result": result, "verify": verify,
                   "setup": [get_spark_s, warmup_s], "passes": passes, "selfcheck": selfcheck},
                  f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for
    the JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
