#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, closed loop, one job at a
time on local[<half the CPUs>], every pass's output checked.

    python3 perfbench/run.py --workload images_filter --seed 1 --seconds 10 --trace 0

Untraced (--trace 0) it prints the end-to-end metrics BENCHMARK.json
declares. Traced (--trace 1) its session has the Spark event log on, its
timed passes come in untraced/traced pairs, then the per-layer probes run,
and it prints the per-layer metrics. Stdout carries two JSON lines: the full
record (host, versions, seed, sizes, every sample), then the result line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    CACHE,
    ROOT,
    PssSampler,
    Tracer,
    become_subreaper,
    fold_event_log,
    host_info,
    job_group_tasks,
    log,
    max_task_binary_kib,
    median,
    reap_children,
    redirect_fds,
    start_session,
    stop_jvm,
    tree_cpu_s,
)
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

# the JIT keeps warming over the first passes: the first two are set-up,
# and the timed ones are taken where the curve has flattened out
WARMUP_PASSES = 2
MIN_PASSES = 2
TRACED_PAIRS = 2  # a traced run: at least this many untraced/traced pairs
# layer probes that time scan + layer; the scan probe is taken off
MINUS_SCAN = ("pipeline.native_rules_s", "pipeline.decode_udf_s", "pipeline.caption_udf_s")
EVENT_METRICS = ("shuffle_write_mb", "task_run_s", "scheduler_delay_s", "gc_s")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    """One benchmark process: a workload, its session and its samples."""

    def __init__(self, workload, seconds: float, trace: bool, work: str) -> None:
        self.wl = workload
        self.seconds = seconds
        self.work = work
        self.jvm_log = os.path.join(work, "jvm.log")
        self.tr = Tracer(trace)
        self.off = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.ratios: dict[str, list[float]] = {}
        self.n_out = 0

    # ---- one pass ---------------------------------------------------------

    def one_pass(self, tr, cpu=tree_cpu_s) -> tuple[float, float] | None:
        """Run and check one pass; returns its wall time and the CPU time
        `cpu()` moved by while it ran (the output check comes after both),
        or None if it failed."""
        out = os.path.join(self.work, f"out-{self.n_out}")
        self.n_out += 1
        self.attempted += 1
        try:
            cpu0 = cpu()
            t0 = time.perf_counter()
            with tr.span("trace.job_s"):
                result = self.wl.run_pass(self.spark, out, tr)
            wall = time.perf_counter() - t0
            cpu_s = cpu() - cpu0
            for k, v in self.wl.check(self.spark, result).items():
                self.ratios.setdefault(k, []).append(v)
            return wall, cpu_s
        except Exception:  # a failed pass is counted, and the run goes on
            self.failed += 1
            log(f"pass failed:\n{traceback.format_exc()}")
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # ---- phases -----------------------------------------------------------

    def setup(self, prepare_s: float) -> float:
        """JVM and session start plus the warm-up pass, timed from process
        start with input preparation taken off. One session per process: a
        second SparkContext in the same interpreter loses the Python
        accumulator channel, so the set-up cannot be repeated in-process."""
        events = os.path.join(self.work, "events") if self.tr.enabled else None
        restore = redirect_fds(self.jvm_log)
        try:
            self.spark = start_session(self.work, self.wl.cores, events)
        finally:
            restore()
        self.wl.configure(self.spark)
        for _ in range(WARMUP_PASSES):
            self.one_pass(self.off)
        return time.perf_counter() - T_START - prepare_s

    def timed(self) -> dict:
        """Passes back to back until --seconds have passed. In a traced run
        every untraced pass has a traced partner, run after it in one pair
        and before it in the next, an even number of pairs in all, so a
        drift from pass to pass cancels from the median of the paired
        differences: the tracing overhead."""
        traced = self.tr.enabled
        walls, cpus, overheads = [], [], []
        least = TRACED_PAIRS if traced else MIN_PASSES
        t0 = time.perf_counter()
        with PssSampler() as ps:

            def cpu() -> float:  # the tree without the sampler thread
                return tree_cpu_s() - ps.own_cpu_s

            while (len(walls) < least or time.perf_counter() - t0 < self.seconds
                   or (traced and len(walls) % 2)):
                traced_first = traced and len(walls) % 2 == 1
                partner = self.traced_pass() if traced_first else None
                got = self.one_pass(self.off, cpu)
                if traced and not traced_first:
                    partner = self.traced_pass()
                if got is not None:
                    walls.append(got[0])
                    cpus.append(got[1])
                    if partner is not None:
                        overheads.append(partner - got[0])
                elif self.failed > 4 * least:
                    break
        if not walls:
            raise RuntimeError("every timed pass failed")
        rows = self.wl.input_rows
        job_s = median(walls)
        return {
            "samples": {"job_s": walls, "cpu_s": cpus, "overhead_s": overheads},
            "metrics": {
                "job_s": job_s,
                "rows_per_s": rows / job_s,
                "cpu_s_per_mrow": median(cpus) / rows * 1e6,
                "peak_pss_mb": ps.peak_mb,
            },
        }

    def traced_pass(self) -> float | None:
        """One traced pass in a job group of its own; returns its wall time."""
        tr, sc = self.tr, self.spark.sparkContext
        tr.trace += 1
        group = f"traced-{tr.trace}"
        sc.setJobGroup(group, group)
        self.ratios = {}
        got = self.one_pass(tr)
        sc.setLocalProperty("spark.jobGroup.id", None)
        tasks, failed = job_group_tasks(self.spark, group)
        with tr.span("spark.tasks", value=tasks):
            pass
        with tr.span("spark.failed_tasks", value=failed):
            pass
        for name, vals in self.ratios.items():
            with tr.span(name, value=vals[-1]):
                pass
        return None if got is None else got[0]

    def layers(self, overheads: list[float]) -> dict:
        """Every layer probe after the traced passes; returns the per-layer
        metrics and the self times. The session of a traced run has the
        Spark event log on from the start, so the tracing overhead (traced
        minus untraced pass) is the cost of the spans and the job-group
        bookkeeping."""
        from perfbench import probes

        tr, wl = self.tr, self.wl
        groups = [f"traced-{k}" for k in range(1, tr.trace + 1)]
        tr.trace = 0
        self.attempted += 1
        try:
            for name, value in wl.layers(self.spark, self.work, tr).items():
                with tr.span(name, value=value):
                    pass
        except CheckFailed:
            self.failed += 1
            log(f"layer probe output check failed:\n{traceback.format_exc()}")
        with tr.span("plan.max_task_binary_kib") as a:
            with open(self.jvm_log, errors="replace") as f:
                a["value"] = max_task_binary_kib(f.read())
        df, col = wl.probe_column(self.spark)
        probes.crossing(self.spark, df, col, wl.cores, tr)
        probes.bodies(wl.seed, tr)
        self.spark.stop()
        self.spark = None
        with tr.span("spark.event_log"):
            folded = fold_event_log(os.path.join(self.work, "events"))
            for m in EVENT_METRICS:
                vals = [folded.get(g, {}).get(m, 0.0) for g in groups]
                with tr.span(f"spark.{m}", value=median(vals)):
                    pass
        return self.layer_metrics(overheads)

    def layer_metrics(self, overheads: list[float]) -> dict:
        tr = self.tr
        selfs = tr.self_times()
        passes = [s for s in tr.spans if s["name"] == "trace.job_s"]
        coverage = []
        for p in passes:
            kids = sum(s["end"] - s["start"] for s in tr.spans if s["parent"] == p["id"])
            coverage.append(kids / (p["end"] - p["start"]))
        with tr.span("trace.coverage", value=median(coverage)):
            pass
        with tr.span("trace.overhead_s", value=median(overheads) if overheads else 0.0):
            pass
        values: dict[str, float] = {}
        by_name: dict[str, list] = {}
        for s in tr.spans:
            by_name.setdefault(s["name"], []).append(s)
        for name, spans in by_name.items():
            vals = [s["attrs"]["value"] for s in spans if "value" in s["attrs"]]
            values[name] = median(vals) if vals else median(
                [s["end"] - s["start"] for s in spans]
            )
        for name in MINUS_SCAN:
            if name in values:
                values[name] -= values["sources.scan_s"]
        self_s = {
            name: median([selfs[s["id"]] for s in spans])
            for name, spans in by_name.items() if spans[0]["trace"]
        }
        return {"values": values, "self_s": self_s}


def result_line(spec: dict, values: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The last stdout line: every end-to-end metric (untraced) or every
    per-layer metric (traced), by the name and unit BENCHMARK.json gives.
    A layer the workload does not run reads 0; an end-to-end metric must
    have been measured."""
    if trace:
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "metacheck_spark")):
        log(f"no engine sources next to the benchmark under {ROOT}")
        return 2
    spec = declared()
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    become_subreaper()  # every process the run starts ends before it does
    # task slots: half the CPUs this process may run on, for the driver's
    # planning, the JIT and GC threads and the Python workers need the rest.
    # On a 4-CPU host a pass at local[4] moved by about 17% from run to run,
    # at local[2] by about 6%, at the same median wall time
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    wl = WORKLOADS[args.workload](args.seed, cores)
    work = os.path.join(CACHE, "work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # for every child process too
    run = Run(wl, args.seconds, bool(args.trace), work)
    try:
        with run.tr.span("prepare_s"):
            prepare_s, cached = wl.prepare()
        log(f"{wl.name} seed={wl.seed}: inputs {'cached' if cached else 'built'} "
            f"in {prepare_s:.1f}s, {wl.input_rows} rows")
        setup_s = run.setup(prepare_s)
        timed = run.timed()
        e2e = {**timed["metrics"], "setup_s": setup_s}
        layer = run.layers(timed["samples"]["overhead_s"]) if args.trace else None
        host = host_info()  # after the timed phase: `java -version` takes a while
    except BaseException:
        if os.path.exists(run.jvm_log):
            with open(run.jvm_log, errors="replace") as f:
                log("JVM log tail:\n" + f.read()[-4000:])
        raise
    finally:
        try:
            if run.spark is not None:
                run.spark.stop()
            stop_jvm()
        finally:
            reap_children()
        if args.trace:
            traces = os.path.join(CACHE, "traces")
            os.makedirs(traces, exist_ok=True)
            run.tr.dump(os.path.join(traces, f"{wl.name}-s{wl.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": wl.name,
        "seed": wl.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "master": f"local[{cores}]",
        "input": {"size": wl.size, "rows": wl.input_rows, "files": wl.files,
                  "hash": wl.input_hash, "cached": cached},
        "prepare_s": prepare_s,
        "samples": timed["samples"],
        "end_to_end": e2e,
        "error_rate": run.failed / run.attempted,
        **({"per_layer": layer["values"], "self_s": layer["self_s"]} if layer else {}),
    }
    print(json.dumps({"record": record}))
    values = layer["values"] if layer else e2e
    print(json.dumps(result_line(spec, values, bool(args.trace), run.attempted,
                                 run.failed)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
