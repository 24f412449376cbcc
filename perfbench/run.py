"""Benchmark of the df_to_azure_spark program: one command, one workload
per run, every metric printed by name with its unit.

    python3 perfbench/run.py --workload load --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: it imports the program from the
directory above this one.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it are a readable report (per-op-kind medians among them).  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, and
the spans, their fold and the op log are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Load shape: a closed loop with one client in one process, the shape of
the program's caller (a batch job that waits for each write).  The
session is ``local[nproc]`` with nproc shuffle partitions and a 1 GB
driver heap; JDBC uses nproc partitions.  Every fixture, the Spark local
directories, Derby and the JVM temp directory live under one per-run
directory of the checkout, removed at exit, and the JVM is stopped and
waited for before the process exits.  The JVM compiles with C1 only
(see ``start_session``).

Set-up ends with one untimed round of the op mix, verified like the
others, so first-time planning, code generation and class loading are
paid before timing starts.  Timed: each op alone.  Inputs are made before
the timer starts and each result is checked after it stops.  End-to-end
metrics:

* ``setup_s`` — the benchmark's first line to the first timed op:
  imports, session start, the fixture build and the warm-up;
* ``pass_best_s`` — wall time of one pass over the workload's op mix,
  each op taken at its fastest in the run's timed passes.  The closed
  loop has one client, so throughput is its reciprocal.  Interference
  from outside only ever adds time to an op; the fastest of a few
  passes is the steadiest figure a short run gives.

Peak resident memory of this process plus the JVM is reported with the
per-layer metrics (``mem.peak_rss_mb``): under the 1 GB heap cap it moves
with garbage-collector timing by about a tenth from run to run.

Exit status is 0 when a result line was printed, non-zero otherwise
(for instance when the program is not next to this directory).
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WARM_ROUNDS = 1           # untimed, in set-up: first-time planning, codegen, class loading
MIN_ROUNDS = 2
TRACE_MIN_ROUNDS = 3      # untraced, traced, untraced
COUNT_ROUNDS = 1          # traced rounds whose counts are reported
DRIVER_MEMORY = "1g"
JVM_EXIT_TIMEOUT_S = 60


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (operator tables at sf0.001), for perfbench/smoke.py")
    return p.parse_args(argv)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(work_dir: str, cpus: int):
    from df_to_azure_spark import get_spark

    # C1 only: on a few cores the C2 compiler threads keep compiling for
    # minutes, take cores from the measured work and make op times drift
    # down by a third over the first minute; C1 settles within the warm-up
    java_opts = (
        f"-Djava.io.tmpdir={work_dir} "
        f"-Dderby.system.home={work_dir}/derby "
        f"-Dderby.stream.error.file={work_dir}/derby.log "
        "-XX:TieredStopAtLevel=1"
    )
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": work_dir,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the
    JVM exits when its standard input closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Harness:
    def __init__(self, args, work_dir: str):
        self.args = args
        self.work_dir = work_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # per timed op: (round, kind, seconds, rows, traced)
        self.ops: list[tuple[int, str, float, int, bool]] = []
        self.rounds: list[tuple[float, bool]] = []
        self.op_log: list[str] = []
        self.op_stats: list[dict] = []
        self.next_op = 0
        self.tracer = None

    def run(self) -> dict:
        import spans
        import workloads

        args = self.args
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        cpus = nproc()
        self.spark = start_session(self.work_dir, cpus)
        session_s = time.monotonic() - PROCESS_START
        self.tracer = spans.Tracer(self.spark.sparkContext)
        sizes = workloads.SMOKE if args.smoke else workloads.FULL
        ctx = workloads.Context(self.spark, args.seed, self.work_dir, cpus, self.tracer, sizes)
        wl = workloads.WORKLOADS[args.workload](ctx)

        t0 = time.monotonic()
        wl.build_fixture()
        build_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warm_up()
        for r in range(WARM_ROUNDS):
            self.run_round(wl, r, traced=False, timed=False)
        warm_s = time.monotonic() - t0

        if args.trace:
            self.tracer.install()
        before = wl.layer_counts()
        min_rounds = TRACE_MIN_ROUNDS if args.trace else MIN_ROUNDS
        loop_start = time.monotonic()
        setup_s = loop_start - PROCESS_START
        print(f"setup: {setup_s:.3f}s (session {session_s:.3f}s, fixture build "
              f"{build_s:.3f}s, warm-up {warm_s:.3f}s)")
        n = 0
        while n < min_rounds or time.monotonic() - loop_start < args.seconds:
            self.run_round(wl, WARM_ROUNDS + n, traced=bool(args.trace) and n % 2 == 1)
            n += 1
        measured_s = time.monotonic() - loop_start
        if args.trace:
            self.tracer.uninstall()
        after = wl.layer_counts()

        self.attempted += 1  # the end-state verification
        try:
            end_problems = wl.final_check()
        except Exception:
            end_problems = [f"final check raised:\n{traceback.format_exc()}"]
        if end_problems:
            self.failed += 1
            self.problems.extend(end_problems)

        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        self.report(wl, measured_s, before, after)
        if not args.trace:
            return {
                "setup_s": (setup_s, "s"),
                "pass_best_s": (sum(self.kind_best(k) for k in wl.kinds), "s"),
            }
        return self.layer_metrics(wl, before, after, rss)

    def run_round(self, wl, r: int, traced: bool, timed: bool = True) -> None:
        """Run round ``r`` op by op: inputs made untimed, each op timed
        alone under its own Spark job group, its result checked untimed.
        The times of a round that is not ``timed`` are not kept."""
        import spans

        sc = self.spark.sparkContext
        tracer = self.tracer
        round_s = 0.0
        for op in wl.round(r):
            op_id = self.next_op
            self.next_op += 1
            group = f"perfbench-{op_id}"
            sc.setJobGroup(group, op.kind)
            tracer.enabled = traced
            tracer.op_id = op_id
            tracer.job_group = group
            self.attempted += 1
            ok = False
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{op.kind}"):
                    result = op.run()
                dt = time.perf_counter() - t0
            except Exception:  # the loop must go on; the op counts as failed
                dt = time.perf_counter() - t0
                self.problems.append(f"{op.kind} raised:\n{traceback.format_exc()}")
            else:
                tracer.enabled = False
                try:
                    ok = bool(op.check(result))
                except Exception:
                    self.problems.append(f"{op.kind} check raised:\n{traceback.format_exc()}")
                else:
                    if not ok:
                        self.problems.append(f"{op.kind} in round {r}: wrong result")
            tracer.enabled = False
            if not ok:
                self.failed += 1
            round_s += dt
            counts = wl.op_counts()
            if timed:
                self.ops.append((r, op.kind, dt, op.rows, traced))
            self.op_log.append(f"{r} {op.kind} {op.desc}")
            if traced:
                stats = spans.spark_job_stats(sc, group)
                stats.update(round=r, op=op_id, kind=op.kind, s=dt, rows=op.rows)
                stats.update(counts)
                self.op_stats.append(stats)
        if timed:
            self.rounds.append((round_s, traced))

    # -- reporting -------------------------------------------------------
    def kind_times(self, kind: str) -> list[float]:
        return [dt for _r, k, dt, _rows, t in self.ops if k == kind and not t]

    def kind_p50(self, kind: str) -> float:
        xs = self.kind_times(kind)
        return statistics.median(xs) if xs else 0.0

    def kind_best(self, kind: str) -> float:
        return min(self.kind_times(kind), default=0.0)

    def landing(self, before: dict, after: dict) -> tuple[float, float]:
        """Rows landed per second of write-op time, and bytes added under
        the lake table per row landed (write amplification)."""
        writes = [(dt, rows) for *_x, dt, rows, t in self.ops if rows and not t]
        rows = sum(n for _dt, n in writes)
        per_s = rows / sum(dt for dt, _n in writes) if writes else 0.0
        lake_rows = sum(n for _r, k, _dt, n, _t in self.ops if k.startswith("lake_"))
        grew = after.get("table_bytes", 0) - before.get("table_bytes", 0)
        return per_s, (grew / lake_rows if lake_rows else 0.0)

    def op_log_digest(self) -> str:
        return hashlib.sha256("\n".join(self.op_log).encode()).hexdigest()[:16]

    def report(self, wl, measured_s: float, before: dict, after: dict) -> None:
        print(f"workload {wl.name}: {len(self.rounds)} rounds, {len(self.ops)} ops "
              f"in {measured_s:.1f}s; attempted {self.attempted}, failed {self.failed}, "
              f"failed_ops_frac {self.failed / max(self.attempted, 1):.4f}")
        print("  round seconds:", [round(s, 3) for s, _t in self.rounds])
        for kind in wl.kinds:
            xs = self.kind_times(kind)
            if xs:
                print(f"  {kind + '_p50_s':<32} {self.kind_p50(kind):.4f} s  "
                      f"best {self.kind_best(kind):.4f} s  (n={len(xs)})")
        per_s, per_row = self.landing(before, after)
        if per_s:
            print(f"  {'rows_landed_per_s':<32} {per_s:.1f} rows/s")
        if per_row:
            print(f"  {'write_bytes_per_row':<32} {per_row:.1f} B/row")
        print(f"  op sequence digest {self.op_log_digest()} over {len(self.op_log)} ops")
        for p in self.problems[:10]:
            print("PROBLEM:", p)

    def layer_metrics(self, wl, before: dict, after: dict, rss: float) -> dict:
        import workloads

        tracer = self.tracer
        traced_ops = self.op_stats
        traced_rounds = sorted({s["round"] for s in traced_ops})
        # counts per op come from the first COUNT_ROUNDS traced rounds only,
        # so a given seed repeats them exactly whatever the run length
        counted = [s for s in traced_ops if s["round"] in traced_rounds[:COUNT_ROUNDS]]
        counted_ids = {s["op"] for s in counted}
        n_all = max(len(traced_ops), 1)
        n_cnt = max(len(counted), 1)
        fold = tracer.fold()
        fold_cnt = tracer.fold(lambda op: op in counted_ids)

        def per_call(name, key="s", src=fold):
            agg = src.get(name)
            return agg[key] / agg["calls"] if agg and agg["calls"] else 0.0

        def per_op(name):
            return fold_cnt.get(name, {}).get("calls", 0) / n_cnt

        def total(key, ops=traced_ops):
            return sum(s.get(key, 0) for s in ops)

        read, listed = total("files_read"), total("files_total")
        rewritten, table_files = total("files_rewritten"), total("files_before")
        sidecar_ops = tracer.ops_with_span("ckpt.write_sidecar")
        with_sidecar = [s["s"] for s in traced_ops if s["op"] in sidecar_ops]
        traced_r = [s for s, t in self.rounds if t]
        plain_r = [s for s, t in self.rounds if not t]
        overhead = min(traced_r) / min(plain_r) - 1.0 if traced_r and plain_r else 0.0
        rows_per_s, bytes_per_row = self.landing(before, after)

        m = {
            "spark.jobs_per_op": (total("jobs", counted) / n_cnt, "count"),
            "spark.stages_per_op": (total("stages", counted) / n_cnt, "count"),
            "spark.tasks_per_op": (total("tasks", counted) / n_cnt, "count"),
            "spark.failed_tasks": (total("failed_tasks"), "count"),
            "api.df_to_spark.self_s": (per_call("api.df_to_spark", "self_s"), "s"),
            "checks.ensure_unique_keys.s": (per_call("checks.ensure_unique_keys"), "s"),
            "checks.ensure_unique_keys.jobs": (
                per_call("checks.ensure_unique_keys", "jobs", fold_cnt), "count"),
            "checks.is_empty.s": (per_call("checks.is_empty"), "s"),
            "schema.infer_sql_schema.s": (per_call("schema.infer_sql_schema"), "s"),
            "schema.infer_sql_schema.jobs": (
                per_call("schema.infer_sql_schema", "jobs", fold_cnt), "count"),
            "schema.normalize_for_sink.s": (per_call("schema.normalize_for_sink"), "s"),
            "upsert.upsert_frames.s": (per_call("upsert.upsert_frames"), "s"),
        }
        for method in ("append", "upsert", "merge_keyed", "delete_where"):
            m[f"manifest.{method}.self_s"] = (per_call(f"manifest.{method}", "self_s"), "s")
        m.update({
            "manifest.resolve_manifest.s": (per_call("manifest.resolve_manifest"), "s"),
            "manifest.resolve_manifest.calls_per_op": (per_op("manifest.resolve_manifest"), "count"),
            "manifest.versions.calls_per_op": (per_op("manifest.versions"), "count"),
            "manifest.scan.plan_s": (per_call("manifest.scan"), "s"),
            "manifest.scan.exec_s": (per_call("manifest.scan.exec"), "s"),
            "manifest.files_read_frac": (read / listed if listed else 0.0, "ratio"),
            "manifest.rewrite_files_frac": (
                rewritten / table_files if table_files else 0.0, "ratio"),
            "ckpt.sidecars_written": (after.get("sidecars", 0) - before.get("sidecars", 0), "count"),
            "ckpt.write_sidecar.s": (per_call("ckpt.write_sidecar"), "s"),
            "ckpt.read_sidecar.s": (per_call("ckpt.read_sidecar"), "s"),
            "ckpt.commit_with_sidecar_s": (
                statistics.median(with_sidecar) if with_sidecar else 0.0, "s"),
        })
        for method in ("create", "append", "upsert"):
            m[f"sql_sink.{method}.s"] = (per_call(f"sql_sink.{method}"), "s")
        m.update({
            "merge.execute_statement.s": (per_call("merge.execute_statement"), "s"),
            "merge.execute_statement.calls_per_op": (per_op("merge.execute_statement"), "count"),
            "session.release_pins.s": (per_call("session.release_pins"), "s"),
            "session.release_pins.released": (
                after.get("pins_released", 0) - before.get("pins_released", 0), "count"),
        })
        for name in workloads.MIX_QUERIES:
            m[f"query.{name}.build_s"] = (per_call(f"query.{name}.build"), "s")
            m[f"query.{name}.exec_s"] = (per_call(f"query.{name}.exec"), "s")
            m[f"query.{name}.jobs"] = (per_call(f"query.{name}.exec", "jobs", fold_cnt), "count")
        for kind in workloads.LakeOps.kinds + workloads.SqlOps.kinds:
            m[f"op.{kind}.best_s"] = (self.kind_best(kind), "s")
        m["load.rows_landed_per_s"] = (rows_per_s, "rows/s")
        m["load.write_bytes_per_row"] = (bytes_per_row, "B/row")
        m["mem.peak_rss_mb"] = (rss, "MB")
        m["trace.overhead_frac"] = (overhead, "ratio")
        self.write_trace(wl, fold, n_all, overhead)
        return m

    def write_trace(self, wl, fold: dict, n_ops: int, overhead: float) -> None:
        print(f"per-layer fold over {n_ops} traced ops (seconds per op; "
              f"tracing overhead {overhead:+.1%} of round time):")
        print(f"  {'span':<40} {'calls':>7} {'incl_s':>9} {'self_s':>9} {'jobs':>7}")
        for name, agg in sorted(fold.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:<40} {agg['calls'] / n_ops:7.2f} {agg['s'] / n_ops:9.4f} "
                  f"{agg['self_s'] / n_ops:9.4f} {agg['jobs'] / n_ops:7.2f}")
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"trace-{wl.name}-{self.args.seed}.json"
        path.write_text(json.dumps({
            "workload": wl.name, "seed": self.args.seed,
            "overhead_frac": overhead, "traced_ops": n_ops,
            "op_log": self.op_log, "fold": fold, "ops": self.op_stats,
            "spans": self.tracer.dump(),
        }))
        print(f"trace written to {path.relative_to(ROOT)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "df_to_azure_spark" / "__init__.py").is_file():
        print(f"program not found: no df_to_azure_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.environ["SPARK_LOCAL_DIRS"] = work_dir
    os.environ["TMPDIR"] = work_dir
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = work_dir
    harness = Harness(args, work_dir)
    try:
        metrics = harness.run()
    finally:
        if harness.spark is not None:
            stop_session(harness.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps({
        "correct": harness.failed == 0,
        "attempted": harness.attempted,
        "failed": harness.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
