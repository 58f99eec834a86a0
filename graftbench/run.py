#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness with sbt on first use, generates the
workload's inputs from the seed, runs the workload in one JVM (one client
thread, a closed loop: each op starts when the previous one returns),
checks every op's output, and prints one JSON object as the last line of
standard output. With --trace 0 its metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics of a traced run. The
line before it holds context that is recorded but not gated. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import gen_xml  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# query_surface's queries: one per operator module for the six largest
# modules (296 of graft's 385 queries), each the module's fastest query in
# graft.Bench's round-16 record (sf0.1). Cheap queries leave the front end -
# construction, planning, code generation - as most of their time. The
# other eleven modules are left out so that a run fits its budget.
SURFACE = ["q_kendall_tau", "q_sort_limit", "q_odds_ratio", "q_levenshtein",
           "q_similarity", "q_mcnemar"]

# Input sizes, and the number of steady ops a run makes (more only if they
# end before --seconds). See README.md for why each is what it is.
SIZES = {
    "ingest": dict(files=6, records=800, xsd_bad=1, truncated=1,
                   steady_ops=3),
    "query_surface": dict(sf=0.001, steady_ops=12),
}
# --smoke: the same workloads at a size that runs in seconds, for tests.
SMOKE_SIZES = {
    "ingest": dict(files=4, records=40, xsd_bad=1, truncated=1,
                   steady_ops=1),
    "query_surface": dict(sf=0.001, steady_ops=1),
}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _build_inputs():
    """Every file whose change needs a rebuild: graft's build and sources
    and the harness's."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def build():
    """Compiles graft and the harness once per source state; returns the
    harness classpath. Later runs of the same sources reuse the build."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources to build ({need} missing next to graftbench/)")
    h = hashlib.sha256()
    for p in _build_inputs():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"] +
            ([f"-Dsbt.override.build.repos=true",
              f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = open(os.path.join(HERE, "target", "classpath.txt")).read()
    jvm(cp, ["graftbench.Catalog", os.path.join(BUILD, "catalog.json")],
        os.path.join(BUILD, "catalog.log"), timeout=60)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm_options():
    """The JVM options of graft's own build, with the driver memory of the
    repository's tier-1 formula: half the host's memory, 2 to 8 GB."""
    gb = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                gb = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ([x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{gb}g", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}"])


def jvm(cp, args, log, timeout):
    """Runs a harness main and waits for it; a JVM still running after
    `timeout` seconds is killed and the run fails."""
    with open(log, "w") as err:
        try:
            r = subprocess.run(["java"] + jvm_options() + ["-cp", cp] + args,
                               cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{args[0]} ran longer than {timeout} s")
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{args[0]} exited with {r.returncode}")


# --------------------------------------------------------------- inputs

def ingest_inputs(seed, work):
    """Writes the corpus and its schema; returns the params the harness
    needs, ground truth included."""
    s = SIZES["ingest"]
    corpus, schemas = os.path.join(work, "corpus"), os.path.join(work, "schemas")
    gen_xml.write_xsd(schemas)
    regions = [f"R{i:02d}" for i in range(10)]
    nbytes, valid, invalid = gen_xml.write_files(
        random.Random(seed), corpus, "part", s["files"], s["records"], 1,
        regions, s["xsd_bad"], s["truncated"])
    return dict(corpus=corpus, schemas=schemas, valid_records=valid,
                invalid_files=len(invalid), op_input_bytes=nbytes,
                pipeline_source=os.path.join(ROOT, "src", "main", "scala",
                                             "graft", "xml",
                                             "XmlPipeline.scala"))


def query_list(catalog, seed):
    """query_surface's fixed query list in the order the seed sets."""
    names = list(SURFACE)
    missing = sorted(set(names) - {q["name"] for q in catalog})
    if missing:
        fail(f"queries not registered in graft: {missing}")
    random.Random(seed).shuffle(names)
    return names


def query_inputs(seed, work):
    tables = os.path.join(work, "tables")
    nbytes = gen_tables.write(tables, seed, SIZES["query_surface"]["sf"])
    catalog = json.load(open(os.path.join(BUILD, "catalog.json")))
    names = query_list(catalog, seed)
    return dict(tables=tables, check_dir=os.path.join(work, "check"),
                queries=",".join(names), op_input_bytes=nbytes)


# -------------------------------------------------------------- metrics

def percentile(xs, q):
    """The q-quantile of xs (linear interpolation), or None when fewer than
    ten samples lie beyond it: a tail read from fewer is noise."""
    xs = sorted(xs)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return v if sum(1 for x in xs if x > v) >= 10 else None


def end_to_end(res):
    steady = [o for o in res["ops"] if not o["cold"] and not o["traced"]]
    op_p50 = statistics.median(o["wall_s"] for o in steady)
    reqs = [x for o in steady for x in o["requests"]]
    return {
        "setup_s": res["setup_s"],
        "cold_op_s": res["ops"][0]["wall_s"],
        "op_p50_s": op_p50,
        "query_p50_s": statistics.median(reqs),
        "throughput_mb_s": res["input_bytes"] / 1e6 / op_p50,
    }


def per_layer(res, names):
    """Medians over the traced steady ops; `cold.*` from the traced cold op;
    `trace.overhead_s` = traced minus untraced steady op time."""
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and not o["cold"]]
    plain = [o for o in ops if not o["traced"] and not o["cold"]]
    cold = ops[0]["layers"]
    out = {}
    for n in names:
        if n.startswith("cold."):
            out[n] = cold.get(n[len("cold."):], 0.0)
        elif n.startswith("host.") or n == "jvm.peak_rss_mb":
            continue
        else:
            out[n] = statistics.median(o["layers"].get(n, 0.0) for o in traced)
    out["trace.overhead_s"] = (statistics.median(o["wall_s"] for o in traced) -
                               statistics.median(o["wall_s"] for o in plain))
    out["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    out["host.calib_s"] = statistics.mean(res["calib_s"])
    out["host.load1_before"] = res["load1"][0]
    out["host.load1_after"] = res["load1"][1]
    return {n: out[n] for n in names}


# ----------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args(argv)
    if a.smoke:
        SIZES.update(SMOKE_SIZES)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    clock = [("start", time.monotonic())]
    cp = build()
    clock.append(("build", time.monotonic()))
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "ingest":
        p = ingest_inputs(a.seed, work)
    else:
        p = query_inputs(a.seed, work)
    p.update(workload=a.workload, seconds=a.seconds, trace=a.trace,
             steady_ops=SIZES[a.workload]["steady_ops"],
             work=work, cpus=len(os.sched_getaffinity(0)),
             spans=os.path.join(WORK, f"{a.workload}.spans.jsonl"))
    clock.append(("inputs", time.monotonic()))
    params = os.path.join(work, "params.txt")
    with open(params, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in p.items())
    result = os.path.join(work, "result.json")
    jvm(cp, ["graftbench.Main", params, result],
        os.path.join(WORK, f"{a.workload}.log"), timeout=170)
    res = json.load(open(result))
    clock.append(("jvm", time.monotonic()))

    if a.workload == "query_surface":
        oracle.check_results(res, p["tables"], p["check_dir"],
                             os.path.join(BUILD, "catalog.json"))
    clock.append(("oracle", time.monotonic()))
    failed = sum(1 for o in res["ops"] if o["errors"])
    for o in res["ops"]:
        for e in o["errors"][:5]:
            print(f"graftbench: op {o['index']} failed: {e}", file=sys.stderr)

    if a.trace:
        metrics = per_layer(res, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(res)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    reqs = [x for o in res["ops"] if not o["cold"] and not o["traced"]
            for x in o["requests"]]
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops": len(res["ops"]), "steady_requests": len(reqs),
        "query_p90_s": percentile(reqs, 0.9),
        "failed_ratio": failed / len(res["ops"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "host.calib_s": res["calib_s"], "host.load1": res["load1"],
        "op_wall_s": [round(o["wall_s"], 4) for o in res["ops"]],
        "run_phases_s": {b[0]: round(b[1] - a[1], 2)
                         for a, b in zip(clock, clock[1:])},
    }
    print(json.dumps({"info": info}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
