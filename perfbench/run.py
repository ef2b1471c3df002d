#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt (skipped while the sources are unchanged), runs the
workload in one JVM at local[nproc], checks every result against
perfbench/golden.json (or against values the harness computes itself),
prints every metric by name with its unit, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 runs with spans and
Spark listeners and reports the per-layer metrics instead.
--record-golden rewrites the golden values of this workload from the run.
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("llm_f16", "pipeline_cli")
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
F16_PROBES = ("exact_dedup_groups", "minhash_signatures", "minhash_lsh_pairs",
              "dedup_clusters", "verified_pairs", "cdc_chunks", "cms_sketch",
              "hash_embed")
CLI_OPS = ("user_analysis", "orders_report_cold", "orders_report_warm",
           "safety", "show_tree", "write_config_template")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the program's and the harness's."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep)
            for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} here: run from the root of a checkout")
    stamp_file = os.path.join(BUILD, "build.stamp")
    jars_file = os.path.join(BUILD, "jars_dir")
    stamp = source_stamp()
    classes = [os.path.join(ROOT, "target/scala-2.13/classes"),
               os.path.join(HERE, "target/scala-2.13/classes")]
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.isdir(c) for c in classes)):
        with open(jars_file) as fh:
            return classes + [fh.read() + "/*"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            # the program's unmanaged (Spark) jars dir is printed last
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "print unmanagedBase"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=850).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as fh:
        lines = fh.read().splitlines()
    jars = lines[-1].strip() if lines else ""
    if rc != 0 or not os.path.isdir(jars):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (log: {log})", 3)
    with open(jars_file, "w") as fh:
        fh.write(jars)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes + [jars + "/*"]


def run_jvm(classes, workload, seed, seconds, trace, tag):
    """One JVM run of the workload; returns its record and the JVM's
    peak resident set in MB."""
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("scratch", "memo", "tmp", "local", "out"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "record.json")
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dgraft.scratch.dir={work}/scratch",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", ":".join(classes),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out, "--cores", str(nproc()),
            "--inputs", input_cache(),
            "--t0-ms", str(int(time.time() * 1000))])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        # wait4 gives this child's own rusage (not the build's)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                rc = proc.returncode = os.waitstatus_to_exitcode(status)
                break
            if time.time() > deadline:
                proc.kill()
                os.wait4(proc.pid, 0)
                proc.returncode = rc = "timeout"
                break
            time.sleep(0.05)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"{workload} run failed ({rc})", 4)
    with open(out) as fh:
        rec = json.load(fh)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    keep = os.path.join(BUILD, "results", f"{workload}-{seed}-{tag}.json")
    shutil.move(out, keep)
    shutil.move(log, keep[:-len(".json")] + ".log")
    shutil.rmtree(work, ignore_errors=True)
    return rec, ru.ru_maxrss / 1024


def input_cache():
    """Generated tables are kept per version of the generator."""
    with open(os.path.join(HERE, "src/main/scala/perfbench/Gen.scala"), "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:16]
    path = os.path.join(BUILD, "inputs", key)
    os.makedirs(path, exist_ok=True)
    return path


def nproc():
    return len(os.sched_getaffinity(0))


def by_name(ops):
    d = {}
    for o in ops:
        d.setdefault(o["name"], []).append(o)
    return d


def wall_s(ops):
    """Time of one pass over the workload: per-op medians, summed."""
    return sum(statistics.median(o["latency_s"] for o in v)
               for v in by_name(ops).values())


def setup_s(rec):
    """Launch to first timed op, counting the median input rep once
    instead of every rep."""
    reps = rec["inputs_s"]
    return rec["to_timed_s"] - sum(reps) + statistics.median(reps)


def end_to_end(rec):
    return {
        "setup_s": (setup_s(rec), "s"),
        "wall_s": (wall_s(rec["ops"]), "s"),
    }


def per_layer(rec, untraced_wall, peak_rss_mb):
    """Layer counts and times per pass over the workload's ops."""
    ops, lay = rec["ops"], rec["layers"]
    passes = len(ops) / rec["ops_per_pass"]
    cores = rec["cores"]
    jp = lay["jobs_by_phase"]
    execute_s = sum(o["execute_s"] for o in ops)
    named = by_name(ops)
    side = {}
    for s in rec["side"]:
        side[s["name"]] = side.get(s["name"], 0.0) + s["s"]
    m = {
        "queries.construct_s": (sum(o["construct_s"] for o in ops) / passes, "s"),
        "queries.construct_jobs": (jp.get("construct", 0) / passes, "count"),
        "plans.analysis_ms": (lay["plan_analysis_ms"] / passes, "ms"),
        "plans.optimization_ms": (lay["plan_optimization_ms"] / passes, "ms"),
        "plans.planning_ms": (lay["plan_planning_ms"] / passes, "ms"),
        "plans.plan_chars": (lay["plan_chars"] / passes, "count"),
        "exec.execute_s": (execute_s / passes, "s"),
        "exec.jobs": ((jp.get("execute", 0) + jp.get("plan", 0)) / passes, "count"),
        "exec.stages": (lay["exec_stages"] / passes, "count"),
        "exec.tasks": (lay["exec_tasks"] / passes, "count"),
        "exec.executor_cpu_s": (lay["exec_cpu_ns"] / 1e9 / passes, "s"),
        "exec.gc_s": (lay["exec_gc_ms"] / 1e3 / passes, "s"),
        "exec.shuffle_read_bytes": (lay["exec_shuffle_read_bytes"] / passes, "bytes"),
        "exec.shuffle_write_bytes": (lay["exec_shuffle_write_bytes"] / passes, "bytes"),
        "exec.spill_bytes": (lay["exec_spill_bytes"] / passes, "bytes"),
        "exec.result_rows": (sum(o["rows"] for o in ops) / passes, "count"),
        "exec.core_util": (lay["exec_run_ms"] / 1e3 / (execute_s * cores)
                           if execute_s else 0.0, "ratio"),
    }
    for p in F16_PROBES:
        v = named.get(p)
        m[f"functions.{p}_ns_per_row"] = (
            statistics.median(o["latency_s"] for o in v) / rec["rows_in"] * 1e9
            if v and rec["rows_in"] else 0.0, "ns/row")
    cold = named.get("orders_report_cold", [])
    warm = named.get("orders_report_warm", [])
    cold_n = sum(o["extra"].get("memo_entries", 0) for o in cold)
    warm_n = sum(o["extra"].get("memo_entries", 0) for o in warm)
    users = named.get("user_analysis", [])
    items = sum(o["extra"].get("items", 0) for o in users)
    written = [o["extra"] for o in cold + warm]
    m.update({
        "cache.memo_hit_ratio": (1 - warm_n / cold_n if cold_n else 0.0, "ratio"),
        "cache.memo_entries_written": (sum(e.get("memo_entries", 0) for e in written)
                                       / passes, "count"),
        "cache.memo_bytes_written": (sum(e.get("memo_bytes", 0) for e in written)
                                     / passes, "bytes"),
        "cache.fingerprint_s": (side.get("cache.fingerprint", 0.0) / passes, "s"),
        "cache.pins_leaked": (max(o["pins_leaked"] for o in ops), "count"),
        "config.cli_run_s": (sum(o["latency_s"] for v in (named.get(n, []) for n in CLI_OPS)
                                    for o in v) / passes, "s"),
        "loc.bind_s": (side.get("loc.bind", 0.0) / passes, "s"),
        "rep.item_ms": (statistics.median(o["latency_s"] for o in users) / (items / len(users))
                        * 1e3 if users else 0.0, "ms"),
        "rep.jobs_per_item": (lay["jobs_by_op"].get("user_analysis", 0) / items
                              if items else 0.0, "count"),
        "access.files_written": (rec["files_written"] / passes, "count"),
        "access.bytes_written": (rec["bytes_written"] / passes, "bytes"),
        "pipeline.cold_s": (statistics.median(o["latency_s"] for o in cold)
                            if cold else 0.0, "s"),
        "pipeline.warm_s": (statistics.median(o["latency_s"] for o in warm)
                            if warm else 0.0, "s"),
        "rep.items_per_s": (items / sum(o["latency_s"] for o in users)
                            if users else 0.0, "1/s"),
        "mem.peak_rss_mb": (peak_rss_mb, "MB"),
        "trace.wall_s": (wall_s(ops), "s"),
        "trace.overhead_s": (wall_s(ops) - untraced_wall, "s"),
    })
    return m


def check(rec, golden):
    """Failed timed ops: errors, and results that differ from golden.
    An op without a digest was checked inside the harness."""
    bad = []
    for o in rec["ops"]:
        g = golden.get(o["name"])
        if not o["ok"]:
            bad.append((o["name"], o["error"]))
        elif o["digest"] and g is None:
            bad.append((o["name"], "no golden value"))
        elif o["digest"] and [o["rows"], o["digest"]] != g:
            bad.append((o["name"], f"result {o['rows']} rows / {o['digest']}"
                                   f" != golden {g[0]} rows / {g[1]}"))
    return bad


def untraced_wall(classes, a):
    """Median wall_s of the untraced runs recorded in this checkout;
    runs one untraced JVM first when there is none."""
    res = os.path.join(BUILD, "results")
    walls = []
    for f in sorted(os.listdir(res)) if os.path.isdir(res) else []:
        if f.startswith(a.workload + "-") and f.endswith("-t0.json"):
            with open(os.path.join(res, f)) as fh:
                walls.append(wall_s(json.load(fh)["ops"]))
    if not walls:
        walls.append(wall_s(run_jvm(classes, a.workload, a.seed, a.seconds,
                                    False, "t0")[0]["ops"]))
    return statistics.median(walls)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    golden_path = os.path.join(HERE, "golden.json")
    if not os.path.exists(golden_path):
        die("perfbench/golden.json is missing")
    with open(golden_path) as fh:
        golden_all = json.load(fh)
    classes = build()
    base_wall = untraced_wall(classes, a) if a.trace else None
    rec, peak_rss_mb = run_jvm(classes, a.workload, a.seed, a.seconds,
                               bool(a.trace), f"t{a.trace}")
    if a.record_golden:
        ok = [o for o in rec["ops"] if o["ok"] and o["digest"]]
        golden_all[a.workload] = {o["name"]: [o["rows"], o["digest"]] for o in ok}
        with open(golden_path, "w") as fh:
            json.dump(golden_all, fh, indent=1, sort_keys=True)
            fh.write("\n")
    bad = check(rec, golden_all.get(a.workload, {}))
    metrics = per_layer(rec, base_wall, peak_rss_mb) if a.trace else end_to_end(rec)

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  "
          f"trace {a.trace}  nproc {nproc()}  cores {rec['cores']}  "
          f"heap {rec['heap_max_mb']} MB  spark {rec['spark_version']}")
    print(f"ops {len(rec['ops'])} ({rec['ops_per_pass']} per pass)  "
          f"setup: launch {rec['launch_s']:.3f} s, inputs "
          f"{', '.join(f'{g:.3f}' for g in rec['inputs_s'])} s, prepare "
          f"{rec['prepare_s']:.3f} s, warmup {rec['warmup_s']:.3f} s")
    wf = rec["warmup_failures"]
    print(f"warmup failures: {len(wf)}")
    for w in wf:
        print(f"  warmup FAILED {w['name']}: {w['error']}")
    for name, err in bad:
        print(f"  FAILED {name}: {err}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:34s} {v:16.6f} {unit}")
    print(json.dumps({
        "correct": not bad and not wf,
        "attempted": len(rec["ops"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
