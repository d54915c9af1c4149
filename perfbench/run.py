#!/usr/bin/env python3
"""Pipeline benchmark for graft: whole CLI pipelines, each in a fresh JVM.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles
src/main/scala and the harness with the Scala compiler shipped in Spark's
jar directory; inputs are generated from the seed. Everything the benchmark
writes goes under $CARGO_TARGET_DIR (default .bench_build) in the checkout.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# name -> (input generator, its parameters, harness options)
WORKLOADS = {
    "asm_rounds": ("reads", dict(genome_bp=100_000, read_len=100, cover=40, error=0.005),
                   dict(k=31, min_cov=2, min_contig=500, local_threshold=2000)),
    "meta_multik": ("reads", dict(genome_bp=50_000, read_len=150, cover=30, error=0.005),
                    dict(klist="31,63", min_cov=2, min_contig=500)),
    "curate_all": ("corpus", dict(n_docs=2000, n_test=100),
                   dict(dsir_lang="en", fertility_max=8)),
}
# --smoke (the self-test): seconds-long inputs, as (input, option) overrides
SMOKE = {
    "asm_rounds": (dict(genome_bp=20_000), dict(local_threshold=400)),
    "meta_multik": (dict(genome_bp=10_000), {}),
    "curate_all": (dict(n_docs=600, n_test=40), {}),
}
# inputs of the traced run's kernel and sub-operator probes where the
# workload has no reads (curate_all) or no documents (the assemblies)
PROBE_READS = ("reads", dict(genome_bp=20_000, read_len=100, cover=30, error=0.005))
PROBE_CORPUS = ("corpus", dict(n_docs=600, n_test=40))

END_TO_END = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "pipeline_s": ("s", "lower"),
    "input_mb_per_s": ("MB/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "recall_frac": ("fraction", "higher"),
    "intact_frac": ("fraction", "higher"),
}
SUBOPS = ["Dedup.nearDupPairs", "GraphOps.connectedComponents", "Shingles.wordNGrams",
          "KMeans.lloyd", "Similarity.semDedup", "TextOps.dsirWeights",
          "Sketches.linearScore"]
SPAN_METRICS = {
    "build_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "driver_gap_s": "s", "exec_cpu_s": "s", "task_s": "s", "core_util": "fraction",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio", "peak_task_mem_mb": "MB", "gc_s": "s",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in ("operators", "sources") for m, u in SPAN_METRICS.items()},
    "assembler.rounds": "count", "assembler.seed_rows": "count",
    "assembler.endgame_rows": "count", "assembler.endgame_bases": "count",
    "assembler.merged_per_round": "count",
    "sources.input_mb": "MB", "sources.input_records": "count",
    "sources.output_mb": "MB", "sources.write_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
    "core.KmerIter.canonicalLong.ns_per_base": "ns",
    "core.KmerIter.canonicalBlocks.ns_per_base": "ns",
    **{f"operators.{op}.{m}": u for op in SUBOPS for m, u in (("s", "s"), ("jobs", "count"))},
    "trace.overhead_s": "s",
}

JVM_OPTS = ["-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a run must end within 180 s once built: every JVM it starts gets the
# time left before this many seconds after the inputs are ready
RUN_LIMIT = 165


class BenchError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars() -> str:
    """Spark's jar dir: $SPARK_HOME/jars, else the build's unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BenchError("no Spark jar directory found (set SPARK_HOME)")


def scalac(jars: str, classpath: list, dest: str, files: list, logfile: str) -> None:
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BenchError(f"no Scala compiler jars in {jars}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", dest] + files
    with open(logfile, "a") as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode != 0:
            raise BenchError(f"compilation failed, see {logfile}")


def build(bdir: str, jars: str) -> str:
    """Compile graft and the harness once per source state; returns the
    classpath dirs root."""
    src = os.path.join(ROOT, "src", "main")
    sources = sorted(glob.glob(os.path.join(src, "scala", "**", "*.scala"), recursive=True))
    if not sources:
        raise BenchError(f"no graft sources under {os.path.join(src, 'scala')}")
    resources = sorted(p for p in glob.glob(os.path.join(src, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha1()
    for p in sources + resources + harness:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0" + open(p, "rb").read() + b"\0")
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(bdir, "classes-" + h.hexdigest()[:12])
    if os.path.exists(os.path.join(out, "OK")):
        return out
    log(f"compiling {len(sources)} graft sources and the harness into {out}")
    t0 = time.time()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "graft"))
    os.makedirs(os.path.join(tmp, "harness"))
    jar_cp = [os.path.join(jars, "*")]
    logfile = os.path.join(tmp, "compile.log")
    scalac(jars, jar_cp, os.path.join(tmp, "graft"), sources, logfile)
    for p in resources:
        dst = os.path.join(tmp, "graft", os.path.relpath(p, os.path.join(src, "resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(jars, jar_cp + [os.path.join(tmp, "graft")], os.path.join(tmp, "harness"),
           harness, logfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "OK"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


# -------------------------------------------------------------------- run

def launch(ctx: dict, mode: str, data: str, trace: int, opts: dict,
           probes: tuple = ()) -> dict:
    """One fresh JVM; returns its result record plus setup_s."""
    work = os.path.join(ctx["bdir"], "work", mode)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    args = [f"mode={mode}", f"in={os.path.join(data, 'input')}", f"work={work}",
            f"result={result}", f"trace={trace}"]
    args += [f"{k}={v}" for k, v in opts.items()]
    if probes:
        args += [f"probe_reads={os.path.join(probes[0], 'input')}",
                 f"probe_corpus={os.path.join(probes[1], 'input')}"]
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", ctx["classpath"], "graftbench.Harness", *args]
    jvm_log = os.path.join(ctx["bdir"], "jvm.log")
    t0 = time.time()
    if ctx["deadline"] - t0 < 10:
        raise BenchError(f"out of time before a {mode} JVM")
    with open(jvm_log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                timeout=ctx["deadline"] - t0, cwd=work).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log) as f:
            tail = f.read()[-3000:]
        log(f"{mode} JVM failed ({rc}); log tail:\n{tail}")
        return {}
    with open(result) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready_ms"] / 1000.0 - t0
    rec["work"] = work
    return rec


def checked(ctx: dict, workload: str, data: str, rec: dict) -> dict:
    """Adds the output check's verdict and the quality metrics to a record."""
    if not rec:
        return {"ok": False}
    out = os.path.join(rec["work"], "out")
    try:
        if workload == "curate_all":
            errors, q = check.curation(out, data)
            rec["recall_frac"], rec["intact_frac"] = q.get("dup_recall"), q.get("unique_keep_frac")
        else:
            errors, q = check.assembly(out, data, WORKLOADS[workload][2]["min_contig"])
            rec["recall_frac"], rec["intact_frac"] = q["genome_frac"], q["ng50_frac"]
    except Exception as e:  # an unreadable output is a wrong output
        errors, q = [f"output check raised {e!r}"], {}
    for e in errors:
        log(f"{workload}: CHECK FAILED: {e}")
    rec["quality"] = q
    rec["ok"] = not errors
    rec["input_mb_per_s"] = ctx["input_mb"] / rec["pipeline_s"]
    return rec


def dataset(ctx: dict, kind: str, params: dict, seed: int) -> str:
    return gen.ensure(os.path.join(ctx["bdir"], "data"), kind, seed, params)


def run_workload(ctx: dict, workload: str, seed: int, seconds: float, trace: int,
                 smoke: bool) -> dict:
    kind, params, opts = WORKLOADS[workload]
    if smoke:
        params, opts = {**params, **SMOKE[workload][0]}, {**opts, **SMOKE[workload][1]}
    data = dataset(ctx, kind, params, seed)
    generated = os.path.join(data, "input", "options.json")
    if os.path.exists(generated):
        with open(generated) as f:
            opts = {**opts, **json.load(f)}
    ctx["input_mb"] = gen.input_bytes(data) / 1048576.0
    ctx["deadline"] = time.time() + RUN_LIMIT
    log(f"{workload}: seed {seed}, {ctx['input_mb']:.1f} MB of input, {params}")
    attempted = failed = 0
    recs = []

    def pipeline(t: int, probes: tuple = ()) -> dict:
        nonlocal attempted, failed
        attempted += 1
        rec = checked(ctx, workload, data, launch(ctx, workload, data, t, opts, probes))
        if not rec["ok"]:
            failed += 1
            return {}
        log(f"{workload}: pipeline {rec['pipeline_s']:.2f} s, setup {rec['setup_s']:.2f} s, "
            f"rss {rec['peak_rss_mb']:.0f} MB, quality {rec['quality']}")
        return rec

    if trace:
        probes = (data if kind == "reads" else dataset(ctx, *PROBE_READS, seed),
                  data if kind == "corpus" else dataset(ctx, *PROBE_CORPUS, seed))
        plain = pipeline(0)
        traced = pipeline(1, probes)
        if not (plain and traced):
            return {"attempted": attempted, "failed": failed, "metrics": None}
        layers = dict(traced["layers"])
        layers["trace.overhead_s"] = traced["pipeline_s"] - plain["pipeline_s"]
        with open(os.path.join(traced["work"], "trace.json")) as f:
            spans = json.load(f)["spans"]
        keep = os.path.join(ctx["bdir"], f"trace-{workload}-s{seed}.json")
        with open(keep, "w") as f:
            json.dump({"workload": workload, "seed": seed, "layers": layers,
                       "spans": spans}, f, indent=1)
        log(f"{workload}: spans and layer metrics written to {keep}")
        missing = set(PER_LAYER) - set(layers)
        if missing:
            raise BenchError(f"traced run lacks per-layer metrics {sorted(missing)}")
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        return {"attempted": attempted, "failed": failed, "metrics": metrics}

    # untraced: fresh-JVM pipelines until the time is spent (at least one),
    # then set-up-only JVMs until there are three set-up samples
    t_end = time.time() + seconds
    while not recs or time.time() < t_end:
        rec = pipeline(0)
        if rec:
            recs.append(rec)
        elif failed >= 3 and not recs:
            return {"attempted": attempted, "failed": failed, "metrics": None}
    setups = [r["setup_s"] for r in recs]
    while len(setups) < 3:
        r = launch(ctx, "setup", data, 0, {})
        if not r:
            raise BenchError("set-up-only JVM failed")
        setups.append(r["setup_s"])
    med = lambda k: statistics.median(r[k] for r in recs)
    values = {"setup_s": statistics.median(setups), "pipeline_s": med("pipeline_s"),
              "input_mb_per_s": med("input_mb_per_s"), "peak_rss_mb": med("peak_rss_mb"),
              "recall_frac": med("recall_frac"), "intact_frac": med("intact_frac")}
    metrics = {k: (values[k], u) for k, (u, _) in END_TO_END.items()}
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one pipeline per workload (self-test)")
    a = ap.parse_args()
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        jars = spark_jars()
        classes = build(bdir, jars)
        ctx = {"bdir": bdir, "classpath": ":".join(
            [os.path.join(classes, "harness"), os.path.join(classes, "graft"),
             os.path.join(jars, "*")])}
        names = list(WORKLOADS) if a.workload == "all" else [a.workload]
        results = {w: run_workload(ctx, w, a.seed, 0 if a.smoke else a.seconds,
                                   a.trace, a.smoke) for w in names}
    except BenchError as e:
        log(f"error: {e}")
        return 1
    if any(r["metrics"] is None for r in results.values()):
        log("error: no pipeline run of some workload succeeded")
        return 1
    if a.workload == "all":
        for w, r in results.items():
            print(f"{w}: fail_frac {r['failed'] / r['attempted']:.3f} "
                  f"({r['failed']} of {r['attempted']} runs failed)")
            for name, (v, unit) in r["metrics"].items():
                print(f"{w}: {name} {v:.6g} {unit}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    metrics = {f"{w}.{n}" if a.workload == "all" else n: {"value": v, "unit": u}
               for w, r in results.items() for n, (v, u) in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
