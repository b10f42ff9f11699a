"""Benchmark for schema_validator_spark.

    python3 perfbench/run.py --workload {validate_scan,ingest_dedup}
        --seed N --seconds S --trace {0,1}

Closed loop, one client: a single driver runs one pass at a time on
``local[<cores>]`` with a heap of a sixteenth of the machine's memory (1-4 GB).
A run generates (or reuses) the seeded input, sets the engine up, runs the
workload's untimed warm-up passes (the first one cold), then its number of
timed passes (more if ``--seconds`` have not passed yet); every pass is
checked against the generator's ground truth.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  Everything the run writes stays under ``.perfbench_work/``
in the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 150  # stop starting passes after this, to exit well within 180 s


def _confine_to_checkout():
    """Point every temp and scratch location of Python, Spark and the JVM
    into the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: no hsperfdata files under /tmp
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (
            os.environ.get(var, "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
    # the engine's session factory reads these; the benchmark pins its defaults
    for var in ("SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_AQE_INITIAL_FACTOR"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = tmp


def box() -> tuple[int, str]:
    """(cores, driver heap) for this machine: every core, and a sixteenth of
    physical memory clamped to 1-4 GB.  A fixed share, so the heap does not
    follow other processes' usage from run to run; the engine pre-touches
    the whole heap at start-up, so a bigger one only lengthens set-up."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return cores, f"{max(1, min(4, round(mem_gb / 16)))}g"


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine so far (the
    `steal` column of /proc/stat); printed per run because on a shared
    host it explains most run-to-run spread."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_session(cores: int, heap: str):
    from schema_validator_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores, driver_mem=heap)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    """Stop Spark and wait until its JVM (and with it the Python workers) has
    exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def held_and_release(spark, measure_held: bool = True) -> tuple[float, float]:
    """(held MB, stored MB) at the end of a pass, then drop what is stored.

    stored = bytes of cached, persisted or checkpointed blocks (memory and
    disk); held = the driver JVM's live heap plus the stored disk bytes.
    Garbage of the pass (broadcasts, shuffle state) is released by Spark's
    cleaner only after Python drops its references and a JVM GC finds it
    unreachable, so GC repeats until the live heap holds still.  The pass's
    blocks are then unpersisted, so the next pass starts from the same
    state."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    live = []
    while measure_held and len(live) < 10:
        jvm.java.lang.System.gc()
        time.sleep(0.1)
        live.append(rt.totalMemory() - rt.freeMemory())
        if len(live) >= 3 and max(live[-3:]) - min(live[-3:]) < 2**20:
            break
    jsc = spark.sparkContext._jsc
    stored = disk = 0
    for info in jsc.sc().getRDDStorageInfo():
        stored += info.memSize() + info.diskSize()
        disk += info.diskSize()
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()
    held = (min(live) + disk) / 2**20 if live else 0.0
    return held, stored / 2**20


def layer_metrics(execs: list[dict]) -> dict:
    """Per-layer figures of one pass from its executed plans.

    Operators are attributed to a layer by the span that ran them; the dedup
    sub-steps are told apart by the columns the engine names them with
    (``_pos`` gram positions, ``_sig`` signatures, ``bucket`` band keys)."""
    m = {
        "compile.plan_s": sum(e["plan_ms"] for e in execs if not e["span"].startswith("dedup.")) / 1e3,
        "compile.codegen_stages": 0, "compile.python_evals": 0,
        "sources.scan_ms": 0, "sources.bytes_read": 0, "sources.rows_read": 0,
        "stats.agg_peak_mb": 0.0, "uniqueness.shuffle_bytes": 0,
        "python.boot_ms": 0, "python.total_ms": 0,
        "python.bytes_sent": 0, "python.bytes_received": 0,
        "dedup.gram_rows": 0, "dedup.signature_agg_ms": 0,
        "dedup.band_shuffle_bytes": 0, "dedup.candidate_pairs": 0,
        "dedup.join_build_peak_mb": 0.0,
        "shuffle.bytes_written": 0, "shuffle.write_ms": 0.0,
        "shuffle.fetch_wait_ms": 0, "spill.bytes": 0,
        "sink.bytes_written": 0, "sink.files": 0,
        # outputs of the workloads' checks; 0 where the workload has none
        "runner.failed_rows": 0, "uniqueness.dup_keys": 0, "json.invalid_rows": 0,
        "dedup.verified_pairs": 0, "dedup.cc_iterations": 0,
    }
    for e in execs:
        span = e["span"]
        for n in e["nodes"]:
            op, v = n["op"], n["m"]
            compiled = not span.startswith("dedup.")  # plans built by plans.compile
            if op == "WholeStageCodegenExec" and compiled:
                m["compile.codegen_stages"] += 1
            if "Python" in op or "InPandas" in op or "InArrow" in op:
                m["compile.python_evals"] += compiled
                m["python.boot_ms"] += v.get("pythonBootTime", 0) + v.get("pythonInitTime", 0)
                m["python.total_ms"] += v.get("pythonTotalTime", 0)
                m["python.bytes_sent"] += v.get("pythonDataSent", 0)
                m["python.bytes_received"] += v.get("pythonDataReceived", 0)
            if op == "FileSourceScanExec":
                m["sources.scan_ms"] += v.get("scanTime", 0)
                m["sources.bytes_read"] += v.get("filesSize", 0)
                m["sources.rows_read"] += v.get("numOutputRows", 0)
            if op == "ShuffleExchangeExec":
                written = v.get("shuffleBytesWritten", 0)
                m["shuffle.bytes_written"] += written
                m["shuffle.write_ms"] += v.get("shuffleWriteTime", 0) / 1e6
                m["shuffle.fetch_wait_ms"] += v.get("fetchWaitTime", 0)
                if span == "uniqueness.table_violations":
                    m["uniqueness.shuffle_bytes"] += written
            m["spill.bytes"] += v.get("spillSize", 0)
            if op == "DataWritingCommandExec":
                m["sink.bytes_written"] += v.get("numOutputBytes", 0)
                m["sink.files"] += v.get("numFiles", 0)
            if "Aggregate" in op and span == "stats.profile":
                m["stats.agg_peak_mb"] = max(m["stats.agg_peak_mb"], v.get("peakMemory", 0) / 2**20)
            if not span.startswith("dedup."):
                continue
            if op == "GenerateExec" and "_pos#" in n["out"]:
                m["dedup.gram_rows"] += v.get("numOutputRows", 0)
            if "Aggregate" in op and ("_sig#" in n["out"] or n["out"].startswith("_id#") and "min#" in n["out"]):
                m["dedup.signature_agg_ms"] += v.get("aggTime", 0)
            if "Exchange" in op and "bucket#" in n["out"]:
                m["dedup.band_shuffle_bytes"] += v.get("shuffleBytesWritten", 0) + v.get("dataSize", 0)
            if "bucket" in n.get("keys", "") and span == "dedup.candidates":
                m["dedup.candidate_pairs"] += v.get("numOutputRows", 0)
            build = max(v.get("buildDataSize", 0) if op == "ShuffledHashJoinExec" else 0,
                        v.get("dataSize", 0) if op == "BroadcastExchangeExec" else 0)
            m["dedup.join_build_peak_mb"] = max(m["dedup.join_build_peak_mb"], build / 2**20)
    return m


SPAN_METRICS = {
    "compile.build_s": "compile.build",
    "runner.verdicts_s": "runner.verdicts",
    "stats.profile_s": "stats.profile",
    "uniqueness.table_violations_s": "uniqueness.table_violations",
    "json.pass_s": "json.pass",
    "dedup.candidates_s": "dedup.candidates",
    "dedup.clusters_s": "dedup.clusters",
    "sink.write_s": "sink.write",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    _confine_to_checkout()
    sys.path.insert(0, ROOT)
    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    data_dir, truth = gen.materialize(os.path.join(WORK, "inputs"), cls.name, args.seed, cls.size)
    wl = cls(truth)
    cores, heap = box()
    print(f"perfbench: workload={wl.name} seed={args.seed} rows={cls.size} "
          f"cores={cores} heap={heap} closed-loop clients=1", flush=True)

    tr = Tracer()
    steal0 = steal_s()
    # -- set-up: session start, input opened, plan built ---------------------
    t0 = time.perf_counter()
    spark = start_session(cores, heap)
    try:
        session_s = time.perf_counter() - t0
        df = spark.read.parquet(data_dir)
        wl.setup_plan(df, tr)
        setup_s = time.perf_counter() - t0

        attempted = failed = 0
        found = planted = reported = 0
        pass_s, traced_s, held, layer_runs = [], [], [], []
        scratch = os.path.join(WORK, "sink")
        aside_s = 0.0  # spent checking and releasing, outside pass times

        def one_pass(traced: bool, last) -> tuple | None:
            """(pass seconds, held MB or None); ``last()`` tells, once the pass
            is done, whether it ends the run, and so whether to read the held
            memory."""
            nonlocal attempted, failed, found, planted, reported, aside_s
            attempted += 1
            tr.pass_no = attempted
            mark = len(tr.spans)
            if traced:
                tr.attach(spark)
            try:
                t = time.perf_counter()
                res = wl.run_pass(df, tr, scratch)
                dt = time.perf_counter() - t
                chk = wl.check(res)
            except Exception:  # a failing pass is counted, not fatal
                print(f"perfbench: pass {attempted} raised", file=sys.stderr)
                traceback.print_exc()
                failed += 1
                return None
            finally:
                tr.detach()
            failed += not chk.ok
            found, planted, reported = found + chk.found, planted + chk.planted, reported + chk.reported
            if traced:
                lm = layer_metrics(tr.take_executions(mark))
                for name, span in SPAN_METRICS.items():
                    lm[name] = tr.duration(span, mark)
                lm.update({k: v() if callable(v) else v for k, v in chk.counts.items()})
            del res
            measure_held = last()
            h, stored = held_and_release(spark, measure_held)
            if traced:
                lm["storage.stored_mb"] = stored
                layer_runs.append(lm)
            aside_s += time.perf_counter() - t - dt
            return dt, h if measure_held else None

        warm = one_pass(False, lambda: False)
        warmup_s = warm[0] if warm else 0.0
        for _ in range(wl.warm - 1):
            one_pass(False, lambda: False)
        t_timed = time.perf_counter()
        k = 0

        def more() -> bool:
            if time.perf_counter() - t_begin > DEADLINE_S:
                return False
            return k < (4 if args.trace else wl.passes) or time.perf_counter() - t_timed < args.seconds

        while more():
            # traced passes in ABBA order (untraced, traced, traced, untraced),
            # so the passes' warm-up trend does not bias the overhead ratio
            traced = bool(args.trace) and k % 4 in (1, 2)
            k += 1
            r = one_pass(traced, lambda: not more())
            if r is not None:
                (traced_s if traced else pass_s).append(r[0])
                if r[1] is not None:
                    held.append(r[1])
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    print(f"perfbench: imports {t_gen - t_begin:.1f}s, input {t0 - t_gen:.1f}s, "
          f"setup {setup_s:.1f}s (session {session_s:.1f}s), warm-up {warmup_s:.2f}s, "
          f"passes {[round(x, 2) for x in pass_s]}, traced {[round(x, 2) for x in traced_s]}, "
          f"checks {aside_s:.1f}s, stop {time.perf_counter() - t_stop:.1f}s, steal {steal_s() - steal0:.1f}s, "
          f"held {[round(x) for x in held]} MB, total {time.perf_counter() - t_begin:.1f}s",
          file=sys.stderr)

    if args.trace:
        metrics = {}
        for name in layer_runs[0] if layer_runs else ():
            metrics[name] = statistics.median(r[name] for r in layer_runs)
        bw = [r["shuffle.bytes_written"] for r in layer_runs]
        ver, cand = metrics.get("dedup.verified_pairs", 0), metrics.get("dedup.candidate_pairs", 0)
        metrics.update({
            "session.start_s": session_s,
            "warmup.first_pass_s": warmup_s,
            "shuffle.bytes_written_range": (max(bw) - min(bw)) if bw else 0,
            "dedup.verify_ratio": ver / cand if cand else 0.0,
            "trace.overhead_ratio": (statistics.median(traced_s) / statistics.median(pass_s)
                                     if traced_s and pass_s else 0.0),
        })
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tr.spans, "passes": layer_runs}, f)
        units = _load_units("per_layer")
    else:
        metrics = {
            "docs_per_s": cls.size / statistics.median(pass_s) if pass_s else 0.0,
            "setup_s": setup_s,
            "recall": found / planted if planted else 0.0,
            "precision": found / reported if reported else 0.0,
            "ok_share": (attempted - failed) / attempted,
            "held_mb": held[-1] if held else 0.0,
        }
        units = _load_units("end_to_end")
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def _load_units(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
