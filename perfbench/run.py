#!/usr/bin/env python3
"""End-to-end pgwire SQL benchmark of the graft engine.

    python3 perfbench/run.py --workload <tpch_power|point_lookup|etl_mix>
        --seed <n> --seconds <s> --trace <0|1> [--sf 0.1] [--save DIR]

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt and generates the parquet inputs; later runs
reuse both. One run starts a JVM that hosts the engine, its pgwire server
on a loopback port and the load generator (perfbench/harness), runs the
seeded workload for --seconds, and writes every statement's result; this
script then checks each result against DuckDB over the same parquet and
prints two JSON lines: the run's metadata with every workload metric and,
for --trace 1, the per-layer table; then, last, the summary
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).

A traced run installs Spark listeners and a timing wrapper around
Engine.run; its overhead against the untraced run of the same seed is
reported as trace.overhead_pct (the untraced run is made first if this
checkout has none). Metric definitions: perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "retained_mb": "MB", "throughput_qps": "1/s", "class_geomean_ms": "ms"}
PER_LAYER = {
    "server.wire_overhead_ms": "ms", "server.first_row_ms": "ms", "server.rows_out": "count",
    "server.bytes_out_mb": "MB", "server.copy_in_overhead_s": "s",
    "client.decode_s": "s",
    "engine.run_ms": "ms", "engine.rewrite_ms": "ms", "engine.plan_cache_hits": "count",
    "engine.plan_cache_hit_ratio": "ratio", "engine.lock_wait_s": "s",
    "engine.dml_rows_written_per_row_changed": "ratio", "engine.dml_bytes_written_mb": "MB",
    "engine.qe_per_stmt": "count", "engine.persist_rdds_end": "count",
    "engine.block_mem_mb_end": "MB",
    "storage.warehouse_mb": "MB", "storage.files": "count", "storage.files_per_table": "count",
    "spark.parse_ms": "ms", "spark.analyze_ms": "ms", "spark.optimize_ms": "ms",
    "spark.plan_ms": "ms", "spark.codegen_compiles": "count", "spark.codegen_ms": "ms",
    "exec.jobs_per_stmt": "count", "exec.stages_per_stmt": "count", "exec.tasks_per_stmt": "count",
    "exec.task_overhead_s": "s", "exec.qe_exec_ms": "ms", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "jvm.gc_s": "s",
    "trace.overhead_pct": "%", "trace.unattributed_ms": "ms",
}


def die(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _tree_hash():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for pat in ["src/main/**/*", "project/*.sbt", "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties", "perfbench/harness/src/**/*"]:
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the harness once per source state and
    returns the runtime classpath."""
    stamp = _tree_hash()
    bdir = os.path.join(ROOT, ".bench_build")
    cp_file = os.path.join(bdir, "classpath-%s.txt" % stamp)
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die("build failed:\n" + p.stdout[-4000:], 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def dataset(sf):
    d = os.path.join(ROOT, ".bench_data", "sf%s" % sf)
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        marker = os.path.join(d, "done-" + hashlib.sha256(fh.read()).hexdigest()[:12])
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf)
        open(marker, "w").close()
    return d


# ---------------------------------------------------------------- one run

def jvm(classpath, plan_dir, work_dir):
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap grows on demand up to its cap, so the resident peak
    # (peak_rss_mb) follows the heap the collector sized, not a fixed one
    cmd = ["java", "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", plan_dir]
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, cwd=work_dir)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        out, _ = p.communicate()
        die("harness timed out after %d s:\n%s" % (JVM_TIMEOUT_S, out[-4000:]), 1)
    if p.returncode != 0:
        die("harness failed (exit %d):\n%s" % (p.returncode, out[-4000:]), 1)


def _cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_once(args, classpath, stamp, data_dir, trace, inject=None):
    tag = "%s-s%d-t%d" % (args.workload, args.seed, trace)
    plan_dir = os.path.join(ROOT, ".bench_run", tag)
    shutil.rmtree(plan_dir, ignore_errors=True)
    work_dir = os.path.join(plan_dir, "work")
    os.makedirs(work_dir)
    conf, stmts = workloads.make_plan(plan_dir, args.workload, args.seed, args.sf, args.seconds,
                                      trace, data_dir, work_dir, inject)
    cpu0 = _cpu_times()
    jvm(classpath, plan_dir, work_dir)
    cpu1 = _cpu_times()
    out = os.path.join(plan_dir, "out")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "records.jsonl")) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    shutil.rmtree(work_dir, ignore_errors=True)
    failed = workloads.check(args.workload, plan_dir, data_dir, stmts, recs, inject == "wrong")
    # share of the machine's CPU time the hypervisor took while the JVM ran:
    # a run with much of it is slower for reasons outside the program
    run["cpu_steal_pct"] = 100.0 * (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    res = {"conf": conf, "run": run, "recs": recs, "stmts": stmts, "failed": failed,
           "plan_dir": plan_dir, "stamp": stamp}
    res["e2e"], res["detail"] = end_to_end(res)
    for payload in glob.glob(os.path.join(plan_dir, "copy_*.txt")):
        os.remove(payload)
    if trace:
        res["spans"] = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl")) if l.strip()]
        res["replay"] = [json.loads(l) for l in open(os.path.join(out, "replay.jsonl")) if l.strip()]
    return res


# ---------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(res):
    recs, run = res["recs"], res["run"]
    lat = [r["end"] - r["sched"] for r in recs]
    by_cls, by_kind = {}, {}
    for r in recs:
        by_cls.setdefault(r["cls"], []).append(r["end"] - r["sched"])
        by_kind.setdefault(workloads.latency_class(res["conf"]["workload"], r["cls"]),
                           []).append(r["end"] - r["sched"])
    done = [r for r in recs if r["id"] not in res["failed"]]
    e2e = {
        "setup_s": run["setup_s"],
        "retained_mb": run["retained_mb"],
        "throughput_qps": len(done) / run["window_s"],
        "class_geomean_ms": geomean([statistics.median(v) for v in by_kind.values()]),
    }
    detail = {"error_rate": len(res["failed"]) / max(1, len(recs)),
              "peak_rss_mb": run["peak_rss_mb"],
              "latency_p50_ms": statistics.median(lat),
              "statements": len(recs), "classes": {k: len(v) for k, v in sorted(by_cls.items())}}
    w = res["conf"]["workload"]
    if w == "tpch_power":
        detail["tpch_geomean_ms"] = e2e["class_geomean_ms"]
        detail["templates_covered"] = len(by_cls)
    if w == "point_lookup":
        detail["latency_p99_ms"] = workloads.percentile(lat, 0.99)
        detail["samples_beyond_p99"] = sum(1 for x in lat if x > detail["latency_p99_ms"])
        detail["generator_late_ms_p99"] = run["gen_late_ms_p99"]
        detail["generator_late_ms_max"] = run["gen_late_ms_max"]
    if w == "etl_mix":
        writes = [r["end"] - r["start"] for r in recs if r["cls"].startswith("w_")]
        aggs = [r["end"] - r["start"] for r in recs if r["cls"] == "r_agg"]
        copies = [r for r in recs if r["cls"] == "w_copy" and r["copy_start"] is not None]
        exports = [r for r in recs if r["cls"] == "r_export" and r["first_row"] is not None]
        payload = sum(os.path.getsize(os.path.join(res["plan_dir"], res["stmts"][r["id"]]["copy"]))
                      for r in copies)
        detail["write_p50_ms"] = statistics.median(writes) if writes else None
        detail["read_p50_ms"] = statistics.median(aggs) if aggs else None
        detail["copy_in_mb_s"] = (payload / 1e6 / (sum(r["end"] - r["copy_start"] for r in copies) / 1e3)
                                  if copies else None)
        detail["export_rows_s"] = (sum(r["n"] for r in exports) /
                                   (sum(r["end"] - r["first_row"] for r in exports) / 1e3)
                                   if exports else None)
        detail["space_amp"] = run["warehouse_bytes"] / run["live_bytes"] if run["live_bytes"] else None
    return e2e, detail


def _union(ivs):
    return sum(e - s for s, e in _merge(ivs))


def _clip(ivs, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in ivs if e > lo and s < hi]


def _self(parent, children):
    """Time covered by the parent spans and by none of the children."""
    return sum((e - s) - _union(_clip(children, s, e)) for s, e in _merge(parent))


def _merge(ivs):
    out = []
    for s, e in sorted(ivs):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


PHASES = {"parsing": "parse", "analysis": "analyze", "optimization": "optimize", "planning": "plan"}


def attribute(res):
    """Joins the traced run's spans to client statements: by the
    connection's job group, then by time containment (each connection has
    one statement in flight). Returns one row of layer times per statement
    and the spans to write out, client statements as the root spans."""
    slop = 2.0   # Spark stamps its events in whole milliseconds
    spans = {}   # (kind, group) -> [span]; kind: engine.run, spark.exec, spark.job
    open_ = {}
    stages, phases = {}, {}
    for s in res["spans"]:
        k = s["kind"]
        if k == "engine_run":
            spans.setdefault(("engine.run", s["group"]), []).append(s)
        elif k in ("sql_start", "job_start"):
            key = ("spark.exec", s["exec"]) if k == "sql_start" else ("spark.job", s["job"])
            open_[key] = dict(s, start=s["t"], id=key[1])
        elif k in ("sql_end", "job_end"):
            key = ("spark.exec", s["exec"]) if k == "sql_end" else ("spark.job", s["job"])
            if key in open_:
                x = open_.pop(key)
                x["end"] = s["t"]
                spans.setdefault((key[0], x["group"]), []).append(x)
        elif k == "stage":
            stages[s["stage"]] = s
        elif k == "phases":
            phases[s["exec"]] = s
    rows, out = [], []
    for r in res["recs"]:
        s0, s1 = r["start_wall"], r["end_wall"]
        group = "pgwire-session-%d" % r["pid"]

        def within(kind):
            return [x for x in spans.get((kind, group), [])
                    if x["start"] >= s0 - slop and x["end"] <= s1 + slop]
        er, ex, jb = within("engine.run"), within("spark.exec"), within("spark.job")
        st = [stages[i] for j in jb for i in j["stages"] if i in stages and stages[i]["start"] > 0]
        # planning phases that ran inside this statement (a plan-cache hit
        # reuses an execution whose phases ran earlier)
        ph = {short: [(p[0], p[1]) for p in (phases.get(x["id"], {}).get(name) for x in ex)
                      if p and p[0] >= s0 - slop and p[1] <= s1 + slop]
              for name, short in PHASES.items()}
        iv = lambda xs: [(x["start"], x["end"]) for x in xs]
        ph_iv = [i for v in ph.values() for i in v]
        total = s1 - s0
        row = {"id": r["id"], "cls": r["cls"], "total_ms": total, "engine_iv": iv(er),
               "engine_run_ms": sum(e - b for b, e in iv(er)), "hit": sum(x["hit"] for x in er),
               "qe": len(ex), "exec_ms": sum(e - b for b, e in iv(ex)),
               "jobs": len(jb), "stages": len(st),
               "unattributed_ms": total - _union(_clip(iv(er) + iv(ex) + iv(jb) + ph_iv, s0, s1))}
        for k in ["tasks", "task_ms", "run_ms", "cpu_ns", "gc_ms", "in_b", "shr_b", "shw_b",
                  "spill_b", "rec_w", "bytes_w"]:
            row[k] = sum(x[k] for x in st)
        row["self"] = {"engine.run": _self(iv(er), ph_iv + iv(ex)),
                       "spark.exec": _self(iv(ex), iv(jb)),
                       "spark.job": _self(iv(jb), iv(st)),
                       "spark.stage": _union(iv(st)),
                       "unattributed": row["unattributed_ms"]}
        for short, ivs in ph.items():
            row[short + "_ms"] = sum(e - b for b, e in ivs)
            row["self"]["spark." + short] = _union(ivs)
        rows.append(row)
        root = "%d.%d" % (r["pid"], r["id"])
        out.append({"span": root, "parent": None, "name": "stmt:" + r["cls"], "start": s0, "end": s1})
        for i, x in enumerate(er):
            out.append({"span": "%s.er%d" % (root, i), "parent": root, "name": "engine.run",
                        "start": x["start"], "end": x["end"], "plan_cache_hit": x["hit"]})
        for x in ex:
            out.append({"span": "%s.x%d" % (root, x["id"]), "parent": root, "name": "spark.exec",
                        "start": x["start"], "end": x["end"]})
        for short, ivs in ph.items():
            for i, (b, e) in enumerate(ivs):
                out.append({"span": "%s.%s%d" % (root, short, i), "parent": root,
                            "name": "spark." + short, "start": b, "end": e})
        for x in jb:
            jspan = "%s.j%d" % (root, x["id"])
            out.append({"span": jspan, "parent": root, "name": "spark.job",
                        "start": x["start"], "end": x["end"]})
            for i in x["stages"]:
                if i in stages and stages[i]["start"] > 0:
                    out.append({"span": "%s.s%d" % (jspan, i), "parent": jspan,
                                "name": "spark.stage", "start": stages[i]["start"],
                                "end": stages[i]["end"], "tasks": stages[i]["tasks"]})
    return rows, out


def per_layer(res, baseline):
    recs, run = res["recs"], res["run"]
    rows, spans = attribute(res)
    n = max(1, len(rows))
    mean = lambda k: sum(r[k] for r in rows) / n
    total = lambda k: sum(r[k] for r in rows)
    by_id = {r["id"]: r for r in recs}
    rows_by_id = {r["id"]: r for r in rows}
    reads = [r for r in recs if not r["cls"].startswith("w_")]
    # wire split: the client's service time, less the time the statement
    # waited for the statement lock, minus the engine-direct replay of the
    # same text, planned afresh or from the plan cache as it was. A writer
    # holds the lock across its engine.run span; a read waited for as much
    # of it as falls between the read's send and its own first engine.run.
    held = _merge([i for r in rows if r["cls"].startswith("w_") for i in r["engine_iv"]])
    wire = []
    for rp in res["replay"]:
        if rp["kind"] == "read" and rp["id"] in by_id:
            c, row = by_id[rp["id"]], rows_by_id.get(rp["id"], {})
            runs = row.get("engine_iv") or [(c["end_wall"], c["end_wall"])]
            wait = _union(_clip(held, c["start_wall"],
                                max(c["start_wall"], min(b for b, _ in runs))))
            hit = row.get("hit", 0) > 0
            wire.append((c["end"] - c["start"]) - wait -
                        (rp["warm_ms"] if hit else rp["cold_ms"]))
    copy_over = sum((by_id[rp["id"]]["end"] - by_id[rp["id"]]["start"] - rp["direct_ms"]) / 1e3
                    for rp in res["replay"] if rp["kind"] == "copy" and rp["id"] in by_id)
    firsts = [r["first_row"] - r["start"] for r in recs if r["first_row"] is not None]
    dml = [r for r in rows if r["cls"].startswith("w_")]
    changed = 0
    for r in dml:
        tag = by_id[r["id"]]["tag"] or ""
        parts = tag.split()
        if parts and parts[-1].isdigit():
            changed += int(parts[-1])
    read_rows = [r for r in rows if not r["cls"].startswith("w_")]
    rewrite = [r["engine_run_ms"] - r["parse_ms"] - r["analyze_ms"] for r in read_rows]
    m = {
        "server.wire_overhead_ms": statistics.median(wire) if wire else 0.0,
        "server.first_row_ms": statistics.median(firsts) if firsts else 0.0,
        "server.rows_out": sum(r["n"] for r in recs),
        "server.bytes_out_mb": sum(r["bytes"] for r in recs) / 1e6,
        "server.copy_in_overhead_s": copy_over,
        "client.decode_s": sum(r["decode_ns"] for r in recs) / 1e9,
        "engine.run_ms": mean("engine_run_ms"),
        "engine.rewrite_ms": sum(rewrite) / len(rewrite) if rewrite else 0.0,
        "engine.plan_cache_hits": run["plan_cache_hits"],
        "engine.plan_cache_hit_ratio": run["plan_cache_hits"] / max(1, len(reads)),
        "engine.lock_wait_s": run["lock_wait_s"],
        "engine.dml_rows_written_per_row_changed": (sum(r["rec_w"] for r in dml) / changed
                                                    if changed else 0.0),
        "engine.dml_bytes_written_mb": sum(r["bytes_w"] for r in dml) / 1e6,
        "engine.qe_per_stmt": mean("qe"),
        "engine.persist_rdds_end": run["persist_rdds_end"],
        "engine.block_mem_mb_end": run["block_mem_mb_end"],
        "storage.warehouse_mb": run["warehouse_bytes"] / 1e6,
        "storage.files": run["warehouse_files"],
        "storage.files_per_table": run["warehouse_files"] / max(1, len(run["files_per_table"])),
        "spark.parse_ms": mean("parse_ms"),
        "spark.analyze_ms": mean("analyze_ms"),
        "spark.optimize_ms": mean("optimize_ms"),
        "spark.plan_ms": mean("plan_ms"),
        "spark.codegen_compiles": run["codegen_compiles"],
        "spark.codegen_ms": run["codegen_ms"],
        "exec.jobs_per_stmt": mean("jobs"),
        "exec.stages_per_stmt": mean("stages"),
        "exec.tasks_per_stmt": mean("tasks"),
        "exec.task_overhead_s": (total("task_ms") - total("run_ms")) / 1e3,
        "exec.qe_exec_ms": mean("exec_ms"),
        "exec.run_s": total("run_ms") / 1e3,
        "exec.cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "exec.input_mb": total("in_b") / 1e6,
        "exec.shuffle_read_mb": total("shr_b") / 1e6,
        "exec.shuffle_write_mb": total("shw_b") / 1e6,
        "exec.spill_mb": total("spill_b") / 1e6,
        "jvm.gc_s": run["gc_s"],
        "trace.overhead_pct": 100.0 * (res["e2e"]["class_geomean_ms"] /
                                       baseline["class_geomean_ms"] - 1.0),
        "trace.unattributed_ms": mean("unattributed_ms"),
    }
    selfs = {}
    for r in rows:
        for k, v in r["self"].items():
            selfs[k] = selfs.get(k, 0.0) + v
    grand = sum(r["total_ms"] for r in rows) or 1.0
    table = {k: {"self_ms_per_stmt": v / n, "share": v / grand} for k, v in sorted(selfs.items())}
    return m, table, spans, rows


# ---------------------------------------------------------------- main

def save_summary(path, res):
    if not res["failed"]:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(res["e2e"], seed=res["conf"]["seed"]), f)


def metadata(args, res):
    run, conf = res["run"], res["conf"]
    commit = None
    try:   # a checkout without git history reports only the source stamp
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10,
                                env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
                                ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "seconds": args.seconds,
        "trace": conf["trace"], "cpus": len(os.sched_getaffinity(0)), "spark_cpus": conf["cpus"],
        "connections": conf["open_conns"], "offered_rate": conf.get("offered_rate"),
        "setup_reps_s": run["setup_reps_s"],
        "warmup_s": run["warmup_s"],
        "session_ready_s": run["session_ready_s"], "first_stmt_s": run["first_stmt_s"],
        "window_s": run["window_s"], "cpu_steal_pct": run["cpu_steal_pct"],
        "java_version": run["java_version"],
        "spark_version": run["spark_version"], "scala_version": run["scala_version"],
        "git_commit": commit, "source_stamp": res["stamp"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--save", help="directory to copy the result (and a traced run's spans) into")
    ap.add_argument("--inject", choices=["wrong", "error"],
                    help="self-test: change one value in every expected result (wrong) or "
                         "replace the first statement with one that fails (error); the run "
                         "must then fail")
    args = ap.parse_args()
    for need in ["build.sbt", "src/main/scala/graft/Server.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die("not a source checkout of the engine: %s is missing" % need)

    classpath, stamp = build()
    data_dir = dataset(args.sf)
    # untraced results of this source state, kept for trace.overhead_pct
    sdir = os.path.join(ROOT, ".bench_run", "summary")
    prefix = "%s-sf%s-%ds-%s-" % (args.workload, args.sf, args.seconds, stamp)
    summary = os.path.join(sdir, prefix + "s%d.json" % args.seed)
    baseline = None
    if args.trace:
        if not os.path.exists(summary) and not glob.glob(os.path.join(sdir, prefix + "*")):
            save_summary(summary, run_once(args, classpath, stamp, data_dir, 0))
        # the same seed's untraced run if there is one, else the latest other seed's
        found = [summary] if os.path.exists(summary) else sorted(
            glob.glob(os.path.join(sdir, prefix + "*")), key=os.path.getmtime)[-1:]
        if not found:
            die("the untraced baseline run failed its checks", 1)
        with open(found[0]) as f:
            baseline = json.load(f)
    res = run_once(args, classpath, stamp, data_dir, args.trace, args.inject)
    if not args.trace and not args.inject:
        save_summary(summary, res)

    meta = metadata(args, res)
    detail = {"run": meta, "workload_metrics": res["detail"],
              "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in res["e2e"].items()},
              "failures": {str(k): v for k, v in sorted(res["failed"].items())[:20]}}
    if args.trace:
        m, table, spans, _ = per_layer(res, baseline)
        detail["layers"] = table
        detail["trace_baseline_seed"] = baseline["seed"]
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
        detail["per_layer"] = metrics
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    if args.save:
        os.makedirs(args.save, exist_ok=True)
        base = os.path.join(args.save, "%s-trace%d" % (args.workload, args.trace))
        with open(base + ".json", "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        if args.trace:
            with open(base + "-spans.jsonl", "w") as f:
                for s in spans:
                    f.write(json.dumps(s, sort_keys=True) + "\n")
    print(json.dumps(detail, sort_keys=True))
    correct = not res["failed"]
    print(json.dumps({"correct": correct, "attempted": len(res["recs"]),
                      "failed": len(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
