"""graft benchmark: one closed-loop client, one local[nproc] session.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--plant <key>]

Builds graft and the harness from source (cached in `.bench_build`),
generates the workload's inputs from the seed (cached per input and seed),
hashes the DuckDB oracle once per input directory, then runs the harness:
set-up (session, inputs, two untimed warm-up passes) and at least two
timed passes over the workload's keys, more until `--seconds` of timed
work; the timed passes pair a seeded key order with its reverse. Every
result is written in full through a parquet sink and checked against its
oracle hash; the last pass's exports are read back. `--trace 1` runs one
seeded order in untraced and traced passes in turn (U, T, U, ...) and
reports per-layer metrics instead of the end-to-end ones. `--plant <key>`
adds one wrong row to that key's result.

The last stdout line is one JSON object; the exit code is 0 only when
every execution succeeded and every result matched its oracle. A run in
which the machine's CPU steal share exceeds STEAL_LIMIT measures again if
time allows; a correct run still above it exits 4 without a result, as its
timings measure the other tenants, not the program.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
from workloads import RAM_KEYS, WORKLOADS, input_name, pass_plan  # noqa: E402

BUILD = build.BUILD
HEAP = "3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [("pass_s", "s"), ("query_s.p50", "s"), ("query_s.p90", "s"),
              ("setup_s", "s"), ("storage_mb.peak", "MB")]
PER_LAYER = [
    ("GraftSession.start_s", "s"), ("Tables.input_mb", "MB"),
    ("Tables.input_rows", "count"), ("Tables.scan_tasks", "count"),
    ("operators.build_s", "s"), ("operators.eager_jobs", "count"),
    ("operators.eager_job_s", "s"), ("plans.plan_s", "s"),
    ("plans.exchanges", "count"), ("plans.broadcasts", "count"),
    ("plans.sort_merge_joins", "count"), ("plans.scans", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.gap_s", "s"),
    ("scheduler.core_busy_frac", "ratio"), ("exec.cpu_s", "s"),
    ("exec.run_s", "s"), ("exec.gc_s", "s"), ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("spill.disk_mb", "MB"), ("spill.mem_mb", "MB"), ("pins.created", "count"),
    ("pins.leaked", "count"), ("pins.peak_mb", "MB"), ("sources.write_s", "s"),
    ("sources.output_mb", "MB"), ("sources.output_rows", "count"),
    ("GeoJoins.keep_ratio", "ratio"), ("trace.overhead", "ratio"),
    ("trace.coverage_min", "ratio")]
HARNESS_LIMIT_S = 160
# a run whose CPU steal share is above STEAL_LIMIT measures again when one
# more measurement fits in RUN_LIMIT_S from the start of the command
RUN_LIMIT_S = 170
WARMUP_PASSES = 2
# share of the machine's CPU time given to other virtual machines above
# which a run's timings are refused
STEAL_LIMIT = 0.05


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def oracle_sql(cp):
    """SparkEntry.oracleSql, dumped once per build."""
    path = os.path.join(BUILD, "oracle_sql.json")
    stamp = os.path.join(BUILD, "classes.stamp")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.GraftBench",
                        "oracle", path + ".tmp"],
                       check=True, stdout=sys.stderr, timeout=120)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def prepare_inputs(w, seed, sqls):
    """Generate (or reuse) the workload's inputs and their oracle hashes."""
    d = os.path.join(BUILD, "data", input_name(w, seed))
    sizes = gen.generate(d, w["sf"], w["origin_factor"], seed)
    hashes = oracle.oracle_hashes(d, {k: sqls[k] for k in RAM_KEYS if k in sqls})
    return d, sizes, hashes


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, where the kernel reports
    them: time a virtual machine's CPUs were runnable but given to others."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_harness(cp, cfg, out_dir, budget_s, jvm_flags=()):
    cfg_path = os.path.join(out_dir, "config.json")
    rep_path = os.path.join(out_dir, "report.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory: the run writes only
    # inside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + list(jvm_flags) + JVM_OPENS + ["-cp", cp, "perfbench.GraftBench", "run", cfg_path, rep_path])
    try:
        r = subprocess.run(cmd, cwd=out_dir, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=budget_s)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"harness timed out after {budget_s:.0f} s")
    if r.returncode != 0:
        raise RuntimeError(f"harness exited {r.returncode}")
    with open(rep_path) as f:
        return json.load(f)


def harness_config(data_dir, out_dir, plan, seconds, min_passes, plant="",
                   warmup=WARMUP_PASSES):
    return {"data_dir": data_dir, "out_dir": out_dir, "tables": gen.TABLES,
            "passes": [{"order": o, "traced": t} for o, t in plan],
            "warmup": warmup, "min_passes": min_passes, "seconds": seconds,
            "cores": len(os.sched_getaffinity(0)), "plant": plant}


def cds_flags(cp):
    """JVM flags that map a class-data-sharing archive of the classes one
    RAM pass loads. The archive is dumped once per build by an untimed
    training run (set-up, one untimed and one timed pass over the base RAM
    input, the export read-back); every measured JVM then maps Spark's
    classes instead of loading and verifying them from jars. `-Xshare:on`
    makes a JVM that cannot map the archive fail, so every run measures the
    same start-up path; a failed dump fails the run."""
    archive = os.path.join(BUILD, "cds.jsa")
    stamp = archive + ".stamp"
    with open(build.STAMP) as f:
        want = f.read()
    if not (os.path.exists(archive) and os.path.exists(stamp) and open(stamp).read() == want):
        w = WORKLOADS["ram_project"]
        data_dir = os.path.join(BUILD, "data", input_name(w, 0))
        gen.generate(data_dir, w["sf"], w["origin_factor"], 0)
        out_dir = os.path.join(BUILD, "runs", "cds_training")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        cfg = harness_config(data_dir, out_dir, [(RAM_KEYS, False)] * 2, 0, 1, warmup=1)
        log("dumping the class-data-sharing archive")
        try:
            run_harness(cp, cfg, out_dir, 400, [f"-XX:ArchiveClassesAtExit={archive}"])
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        if not os.path.exists(archive):
            raise RuntimeError("the training run wrote no class-data-sharing archive")
        with open(stamp, "w") as f:
            f.write(want)
    return ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"]


def check_results(rep, hashes):
    """(attempted, failed, failures) over every timed execution: each
    query's result against its oracle hash, each export's read-back."""
    attempted, failures = 0, []
    for q in rep["queries"]:
        attempted += 1
        key = q["key"]
        if q["error"]:
            failures.append(f"{key} pass {q['pass']}: {q['error']}")
            continue
        want = hashes.get(key)
        if want is None or "error" in want:
            failures.append(f"{key}: no oracle hash ({(want or {}).get('error')})")
            continue
        try:
            got = oracle.digest(oracle.read_result(q["path"]))
        except Exception as e:
            failures.append(f"{key} pass {q['pass']}: unreadable result: {e}")
            continue
        if got[0] != want["hash"]:
            failures.append(f"{key} pass {q['pass']}: hash mismatch "
                            f"({got[1]} rows vs oracle {want['rows']})")
    for p in rep["passes"]:
        if p.get("export") and p["error"]:
            attempted += 1
            failures.append(f"export pass {p['pass']}: {p['error']}")
    checked = rep.get("export_checks")
    if checked:
        if checked["error"]:
            attempted += 1
            failures.append(f"export read-back pass {checked['pass']}: {checked['error']}")
        for name, ok in checked["checks"].items():
            attempted += 1
            if not ok:
                failures.append(f"export {name} pass {checked['pass']}: "
                                "read-back differs from source")
    return attempted, len(failures), failures


def end_to_end(rep):
    passes = [p for p in rep["passes"] if not p.get("export") and not p["traced"]]
    exports = {p["pass"]: p["export_s"] for p in rep["passes"] if p.get("export")}
    pass_s = [p["pass_s"] for p in passes]
    q = [r["wall_s"] for r in rep["queries"] if not r["traced"]]
    return {
        "pass_s": report.median(pass_s),
        "query_s.p50": report.percentile(q, 0.5),
        "query_s.p90": report.percentile(q, 0.9),
        "setup_s": rep["setup_s"],
        "storage_mb.peak": rep["storage_peak_bytes"] / report.MB,
    }, {"passes": len(pass_s), "queries": len(q), "above_p90": report.samples_above(q, 0.9),
        "export_s": report.median(list(exports.values())) if exports else 0.0}


def per_layer(rep, cores):
    trace = report.Trace(rep["spans"], rep["jobs"])
    traced = [q for q in rep["queries"] if q["traced"] and "span" in q]
    per_exec = [dict(report.query_layers(trace, q, cores), key=q["key"]) for q in traced]
    # the export step is one more traced "query" of the pass
    export_spans = [s for s in rep["spans"] if s["name"] == "query:export"]
    for s in export_spans:
        per_exec.append(dict(report.query_layers(trace, {"span": s["id"]}, cores), key="export"))
    exports = [p for p in rep["passes"] if p.get("export") and p["traced"]]
    passes = [p for p in rep["passes"] if not p.get("export")]
    n_traced = sum(1 for p in passes if p["traced"])
    feature_rows = (rep.get("export_checks") or {}).get("rows", 0)
    layers = report.workload_layers(per_exec, n_traced, exports, feature_rows, cores)
    layers["GraftSession.start_s"] = rep["session_start_s"]
    layers["trace.overhead"] = report.trace_overhead(passes)
    return layers, per_exec


def per_query_record(per_exec, rep):
    """Per key: median of each phase time and layer count over its traced
    executions, plus the untraced latency samples."""
    by_key = {}
    for e in per_exec:
        by_key.setdefault(e["key"], []).append(e)
    out = {}
    for k, es in sorted(by_key.items()):
        out[k] = {m: report.median([e[m] for e in es]) for m in es[0] if m != "key"}
        out[k]["traced_runs"] = len(es)
    for q in rep["queries"]:
        if not q["traced"]:
            out.setdefault(q["key"], {}).setdefault("query_s", []).append(q["wall_s"])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", default="", help="key whose result gets one wrong row")
    a = ap.parse_args(argv)
    started = time.monotonic()
    w = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    try:
        os.makedirs(BUILD, exist_ok=True)
        cp = build.build()
        sqls = oracle_sql(cp)
        data_dir, sizes, hashes = prepare_inputs(w, a.seed, sqls)
        jvm_flags = cds_flags(cp)
    except (build.BuildError, RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"setup failed: {e}")
        return 2
    for t, s in sizes.items():
        log(f"input {t}: {s['rows']} rows, {s['bytes']} bytes")
    out_dir = os.path.join(BUILD, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    plan = pass_plan(RAM_KEYS, a.seed, a.trace, WARMUP_PASSES)
    cfg = harness_config(data_dir, out_dir, plan, a.seconds, 5 if a.trace else 2, a.plant)
    limit_s = HARNESS_LIMIT_S
    while True:
        steal0, total0 = cpu_ticks()
        t0 = time.monotonic()
        try:
            rep = run_harness(cp, cfg, out_dir, limit_s, jvm_flags)
        except (RuntimeError, subprocess.SubprocessError, OSError, ValueError) as e:
            log(f"run failed: {e}")
            return 3
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        limit_s = started + RUN_LIMIT_S - time.monotonic()
        if steal <= STEAL_LIMIT or limit_s < 1.2 * (time.monotonic() - t0):
            break
        log(f"CPU steal {steal:.1%} is above {STEAL_LIMIT:.0%}: measuring again")
        shutil.rmtree(out_dir)
        os.makedirs(out_dir)
    attempted, failed, failures = check_results(rep, hashes)
    for f in failures[:20]:
        log(f"FAILED {f}")
    e2e, counts = end_to_end(rep)
    if a.trace:
        metrics, per_exec = per_layer(rep, cores)
        units = PER_LAYER
    else:
        metrics, per_exec = e2e, []
        units = END_TO_END
    record = {"workload": a.workload, "seed": a.seed, "cores": cores, "trace": a.trace,
              "inputs": sizes, "env": rep["env"], "cpu_steal_frac": steal,
              "jvm_flags": jvm_flags,
              "end_to_end": e2e, "counts": counts,
              "per_layer": metrics if a.trace else None,
              "per_query": per_query_record(per_exec, rep)}
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{a.workload}_seed{a.seed}_c{cores}_trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} cores {cores} passes {counts['passes']} "
          f"queries {counts['queries']} ({counts['above_p90']} above p90) "
          f"cpu steal {steal:.1%} record {rec_path}")
    for name, unit in END_TO_END:
        print(f"{name} {e2e[name]:.4f} {unit}")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")
    if a.trace:
        for name, unit in PER_LAYER:
            print(f"{name} {metrics[name]:.6g} {unit}")
    if steal > STEAL_LIMIT and failed == 0:
        log(f"CPU steal {steal:.1%} is above {STEAL_LIMIT:.0%}: timings refused, run again")
        return 4
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
