#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sbom_ingest, corpus_curation (see README.md).
Builds the harness and the graft sources of this checkout with sbt when
they changed since the last build, and the sf0.1 curation tables with
graft.tools.SfGen when that generator changed; writes the seeded SBOM
inputs under perfbench/.work, runs the harness, checks its outputs against
the benchmark's own oracles, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sbom_ingest", "corpus_curation")
# Curation operators that consume the index build steps.
CONSUMERS = ["pipe_train_corpus", "dedup_components", "dedup_apply", "dedup_kcore",
             "dedup_hub_rank", "ann_ivf", "ann_pq", "ann_ivfpq_residual", "ann_recall",
             "text_bpe_merges", "pipe_tokenizer_fertility"]
BUILD_STEPS = ["sim_pairs", "cc_labels", "jaccard", "minhash", "emb_lsh", "idf_bands",
               "ivf", "pq", "ivfpq_resid", "int8", "adc", "knn_edges", "bpe", "unigram"]
READ_SQL = ("SELECT license, count() AS n, uniqExact(name) AS names, "
            "countIf(purl IS NULL) AS no_purl FROM {table} GROUP BY license")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170
CPUS = max(1, min(3, os.cpu_count() or 1))
# Set-ups per run (setup_s is their median): a curation set-up is short,
# so it takes more of them to be steady.
SETUPS = {"sbom_ingest": 3, "corpus_curation": 9}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the harness and graft with sbt unless the sources are
    unchanged since the last build; return the runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, ".build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"]
    log("building harness and graft sources with sbt")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def java(classpath, tmp, main_args):
    """A JVM command line for graft: module opens, temp files in `tmp`."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath] + main_args


def curation_tables(classpath):
    """The sf0.1 tables from graft.tools.SfGen (multiplier 1.0), made once
    per version of the generator and kept in .build/."""
    h = hashlib.sha256()
    for f in ("src/main/scala/graft/tools/SfGen.scala", "build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", "sf0.1-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    build_dir = os.path.dirname(out)
    for d in os.listdir(build_dir):
        if d.startswith("sf0.1-") or d == "tmp":
            shutil.rmtree(os.path.join(build_dir, d))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp)
    log("generating the sf0.1 tables with graft.tools.SfGen")
    proc = subprocess.run(java(classpath, tmp, ["graft.tools.SfGen", "1.0", out]), cwd=tmp,
                          env=dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS)),
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: table generation failed")
    open(os.path.join(out, "_DONE"), "w").close()
    return out


# ------------------------------------------------------------------ inputs

def make_plan(args, work, tables):
    plan = {"workload": args.workload, "work": work, "seconds": args.seconds,
            "trace": bool(args.trace), "cpus": CPUS, "setups": SETUPS[args.workload]}
    if args.workload == "corpus_curation":
        # fixed inputs: the seed does not change the corpus
        plan["tables"] = tables
        plan["consumers"] = CONSUMERS
    else:
        import gen_sbom
        docs, merge, mapping = gen_sbom.generate(args.seed)
        os.makedirs(os.path.join(work, "docs"))
        os.makedirs(os.path.join(work, "merge_bucket"))
        for d in docs:
            d["file"] = os.path.join(work, "docs", d["s3_key"])
            d["table"] = gen_sbom.table_name(d["repo"])
            with open(d["file"], "w") as fh:
                fh.write(d["payload"])
        for name, text in merge.items():
            with open(os.path.join(work, "merge_bucket", name), "w") as fh:
                fh.write(text)
        plan["mapping"] = os.path.join(work, "license-mappings.json")
        with open(plan["mapping"], "w") as fh:
            json.dump(mapping, fh)
        plan["docs"] = [{k: d[k] for k in ("repo", "s3_key", "kind", "file", "table")} for d in docs]
        plan["tables"] = sorted({d["table"] for d in docs})
        plan["merge_bucket"] = os.path.join(work, "merge_bucket")
        plan["read_sql"] = READ_SQL
        plan["compact_target_bytes"] = 1 << 20
        plan["model"] = {"docs": docs, "merge": merge, "mapping": mapping}
    return plan


# ------------------------------------------------------------------ metrics

def _median_setup(res, key):
    return statistics.median(s[key] for s in res["setups"])


def end_to_end(res):
    ops = [o for o in res["ops"] if "error" not in o]
    wall, cpu = {}, {}
    for o in ops:
        wall[o["round"]] = wall.get(o["round"], 0.0) + o["wall_ms"]
        cpu[o["round"]] = cpu.get(o["round"], 0.0) + o["cpu_ms"]
    return {
        "setup_s": (_median_setup(res, "setup_ms") / 1000.0, "s"),
        "round_s": (statistics.median(wall.values()) / 1000.0, "s"),
        "round_cpu_s": (statistics.median(cpu.values()) / 1000.0, "s"),
    }


# An operation's spans (its layers plus the tracer's own "harness" time)
# must account for its wall time within this tolerance.
TOLERANCE_PCT, TOLERANCE_MS = 5.0, 5.0


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res):
    ops = [o for o in res["ops"] if "error" not in o]
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)


    def per_op(layer, key, kinds):
        sel = [o for o in ops if o["kind"] in kinds]
        return _mean(sum(s.get(key, 0) for s in o["spans"] if s["layer"] == layer) for o in sel)

    put("setup.session_ms", _median_setup(res, "session_ms"), "ms")
    put("setup.tables_ms", _median_setup(res, "tables_ms"), "ms")
    put("setup.warmup_ms", _median_setup(res, "warmup_ms"), "ms")
    put("setup.first_ms", res["setups"][0]["setup_ms"], "ms")
    qk = ("query",)
    put("builder.ms", per_op("builder", "ms", qk), "ms")
    put("builder.jobs", per_op("builder", "jobs", qk), "count")
    dk = ("read",)
    put("dialect.ms", per_op("dialect", "ms", dk), "ms")
    put("dialect.jobs", per_op("dialect", "jobs", dk), "count")
    actions = [s for o in ops for s in o["spans"] if s["layer"] == "action"]
    put("plan.analysis_ms", _mean(s.get("catalyst_analysis", 0) for s in actions), "ms")
    put("plan.optimization_ms", _mean(s.get("catalyst_optimization", 0) for s in actions), "ms")
    put("plan.planning_ms", _mean(s.get("catalyst_planning", 0) for s in actions), "ms")
    put("exec.ms", _mean(s["ms"] - s.get("catalyst_optimization", 0) - s.get("catalyst_planning", 0)
                         for s in actions), "ms")
    put("exec.jobs", _mean(s["jobs"] for s in actions), "count")
    def every(key):  # mean over operations of the key summed over their spans
        return _mean(sum(s[key] for s in o["spans"]) for o in ops)

    put("exec.stages", every("stages"), "count")
    put("exec.tasks", every("tasks"), "count")
    put("exec.task_cpu_ms", every("cpu_ns") / 1e6, "ms")
    put("exec.shuffle_mb", every("shuffle_bytes") / 1e6, "MB")
    put("exec.spill_mb", every("spill_bytes") / 1e6, "MB")
    put("jvm.gc_ms", _mean(o["gc_ms"] for o in ops), "ms")
    put("cache.rdds_left", _mean(o["rdds_left"] for o in ops), "count")
    put("cache.mem_mb", _mean(o["cache_mb"] for o in ops), "MB")
    put("ingest.run_ms", per_op("ingest", "ms", ("insert",)), "ms")
    put("ingest.run_jobs", per_op("ingest", "jobs", ("insert",)), "count")
    put("ingest.merge_ms", per_op("merge", "ms", ("merge",)), "ms")
    put("compact.ms", per_op("compact", "ms", ("compact",)), "ms")
    put("compact.files_rewritten",
        _mean(o.get("files_rewritten", 0) for o in ops if o["kind"] == "compact"), "count")
    ex = res.get("extra") or {}
    stored = ex.get("table_rows", 0)
    put("table.files", ex.get("table_files", 0), "count")
    put("table.bytes_per_component", ex.get("table_bytes", 0) / stored if stored else 0, "B")
    first = min((o["round"] for o in ops), default=0)
    for step in BUILD_STEPS:
        sel = [o for o in ops if o["kind"] == "build" and o["name"] == step and o["round"] == first]
        put(f"build.{step}.ms", sum(o["wall_ms"] for o in sel), "ms")
        put(f"build.{step}.jobs", sum(s["jobs"] for o in sel for s in o["spans"]), "count")
    # layer ledger: the spans of an operation should account for its wall
    resid = [(o["wall_ms"] - sum(s["ms"] for s in o["spans"])) for o in ops]
    put("layer.residual_pct", 100.0 * sum(resid) / sum(o["wall_ms"] for o in ops), "%")
    within = [abs(r) <= TOLERANCE_PCT / 100.0 * o["wall_ms"] + TOLERANCE_MS for r, o in zip(resid, ops)]
    for r, o, ok in zip(resid, ops, within):
        if not ok:
            log(f"ledger: {o['kind']} {o['name']} round {o['round']}: spans leave {r:.1f} ms "
                f"of {o['wall_ms']:.1f} ms unaccounted, outside {TOLERANCE_PCT}% + {TOLERANCE_MS} ms")
    put("layer.ops_within_tol_pct", 100.0 * sum(within) / len(ops), "%")
    put("trace.op_mean_ms", _mean(o["wall_ms"] for o in ops), "ms")
    put("trace.harness_ms", per_op("harness", "ms", {o["kind"] for o in ops}), "ms")
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources not found next to perfbench/")

    classpath = build()
    tables = curation_tables(classpath)
    t_start = time.monotonic()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan = make_plan(args, work, tables)
        model = plan.pop("model", None)
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        cmd = java(classpath, os.path.join(work, "tmp"), ["perfbench.Main", os.path.join(work, "plan.json")])
        with open(os.path.join(work, "jvm.log"), "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)

        log("set-ups (s): " + " ".join(f"{st['setup_ms'] / 1000:.3f}" for st in res["setups"]))
        import checks
        problems, missed = checks.run(args.workload, work, plan, model, res)
        for p in problems:
            log(f"CHECK FAILED: {p}")
        for name, why in sorted(missed.items()):
            log(f"operation failed: {name}: {why}")
        metrics = per_layer(res) if args.trace else end_to_end(res)
        # failed: operations that raised, and operations whose output misses
        # a quality floor graft's own tests assert (checks.run's `missed`)
        failed = sum("error" in o or o["name"] in missed for o in res["ops"])
        out = {"correct": not problems, "attempted": len(res["ops"]), "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
