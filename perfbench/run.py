#!/usr/bin/env python3
"""The repository benchmark: one command per workload and run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the harness
(`perfbench/harness`, an sbt project compiling the program's sources)
into `.bench_build/`, and generates the query tables there; later runs
reuse both while their sources are unchanged. Each run then launches one
fresh JVM, reads the result file it writes, checks every output, and
prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. The full record of every run (seed, Spark
conf, JVM flags, per-query and per-step numbers, spans) goes to
`.bench_build/results/`. See perfbench/README.md for the workloads and
what each metric measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib as bl  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HARNESS = BENCH / "harness"
PROGRAM_SOURCES = [ROOT / "src" / "main" / "scala",
                   ROOT / "src" / "test" / "scala" / "graft" / "ftp" / "MiniFtpServer.scala"]
SCALE = 0.01
# Passes per run at least: the cold pass, then warm passes. After the
# cold pass the JIT keeps compiling for a while, so the first warm pass of
# `queries` only settles and warm_pass_s is the median of the two after
# it; the transfer cycle is long enough that one warm pass is all the
# time budget allows.
MIN_PASSES = {"queries": 4, "transfer": 2}
SETTLE_PASSES = {"queries": 1, "transfer": 0}
TRANSFER_SIZES = dict(n_small=6, n_large=2, large_bytes=500_000)
# Workloads first planned but not run, and why. A full evaluation makes
# 4 + 22 runs per workload within 3420 s, and every run pays a ~7 s
# fresh-JVM set-up and a cold pass of JIT and cache fills.
DROPPED = {
    "graph_sf01": "its 14 graph queries took 67 s cold and 20 s warm at sf0.1 "
                  "(32 s cold at sf0.01) on 4 cores; a subset runs in `queries`",
    "curation_sf01": "its 14 curation queries took 62 s cold and 21-24 s warm even "
                     "at sf0.01 on 4 cores; q31 and q76 run in `queries`",
    "graph_sf1": "a warm pass at sf1 takes ~24 s and its cache fills ~24 s more, "
                 "so one run cannot fit its share of the time budget",
}
JVM_FLAGS = [
    *[f for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xms4g", "-Xmx4g", "-XX:ReservedCodeCacheSize=2g",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths, skip=()):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if top.is_file() else sorted(
            p for p in top.rglob("*") if p.is_file()
            and not any(s in p.parts for s in skip))
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the harness with the program's sources; returns the
    runtime classpath. Skipped while the sources are unchanged."""
    stamp, cp_file = BUILD / "harness.stamp", BUILD / "classpath.txt"
    want = digest([HARNESS, *PROGRAM_SOURCES], skip=("target", "project"))
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("building the harness (sbt)")
    with open(BUILD / "build.log", "w") as out:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = (BUILD / "build.log").read_text().splitlines()
    cps = [l for l in lines if l.startswith("/") and "scala-library" in l]
    if done.returncode != 0 or not cps:
        raise SystemExit(f"harness build failed; see {BUILD / 'build.log'}")
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1]


def data_dir():
    """The query tables, generated once per checkout."""
    d = BUILD / "data" / f"sf{SCALE}"
    stamp = d / ".stamp"
    want = digest([BENCH / "gen_data.py"]) + str(SCALE)
    if not (stamp.exists() and stamp.read_text() == want):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(d),
                        "--sf", str(SCALE)], check=True, stdout=sys.stderr)
        stamp.write_text(want)
    return d


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7] if len(f) > 7 else 0


def run_jvm(cp, work, args, timeout):
    """Launch the harness JVM; returns (result dict, spawn epoch seconds)."""
    out = work / "result.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "graft.perfbench.Main", "--work", str(work), "--out", str(out), *args]
    t_spawn = time.time()
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness JVM exceeded {timeout:.0f} s; see {work / 'jvm.log'}")
    if code != 0 or not out.exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"harness JVM exited {code}:\n{tail}")
    return json.loads(out.read_text()), t_spawn


# ---- per-workload evaluation --------------------------------------------

def spark_layers(passes, cores, settle=0):
    """Per-layer metrics both workloads have: Spark scheduler, shuffle,
    driver collects, JVM and caches. Per warm pass unless noted."""
    cold, warm = passes[0], passes[1 + settle:]

    def wmed(f):
        return bl.median([f(p) for p in warm])[0]

    sp = lambda p, k: p["spark"][k]  # noqa: E731
    fills = lambda p: p.get("fills", {})  # noqa: E731
    return {
        "spark.jobs": (wmed(lambda p: sp(p, "jobs")), "count"),
        "spark.stages": (wmed(lambda p: sp(p, "stages")), "count"),
        "spark.tasks": (wmed(lambda p: sp(p, "tasks")), "count"),
        "spark.job_s": (wmed(lambda p: sp(p, "job_ns") / 1e9), "s"),
        "driver.nonjob_s": (wmed(lambda p: p["wall_s"] - sp(p, "job_ns") / 1e9), "s"),
        "spark.task_busy_frac": (wmed(lambda p: sp(p, "run_ms") / 1e3 / (p["wall_s"] * cores)), "ratio"),
        "spark.shuffle_read_mb": (wmed(lambda p: sp(p, "shuffle_read_b") / 1e6), "MB"),
        "spark.shuffle_write_mb": (wmed(lambda p: sp(p, "shuffle_write_b") / 1e6), "MB"),
        "spark.spill_mb": (wmed(lambda p: sp(p, "spill_b") / 1e6), "MB"),
        "spark.result_mb": (wmed(lambda p: sp(p, "result_b") / 1e6), "MB"),
        "spark.tasks_failed": (sum(sp(p, "tasks_failed") for p in passes), "count"),
        "jvm.jit_ms": (cold["jvm"]["jit_ms"], "ms"),
        "jvm.codegen_classes": (cold["jvm"]["codegen_classes"], "count"),
        "jvm.code_cache_mb": (passes[-1]["code_cache_mb"], "MB"),
        "caches.cold_fill_share": (sum(fills(cold).values()) / cold["wall_s"], "ratio"),
        "caches.warm_fills": (sum(1 for p in passes[1:] for v in fills(p).values() if v > 0), "count"),
    }


def self_times(spans):
    """Self time per span name per pass: duration minus the part of it
    its child spans cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        key = (s["pass"], s["name"] if not s["name"].startswith("q.") else "q.*")
        own = (s["end_ns"] - s["start_ns"]) - child.get(s["id"], 0)
        out[key] = out.get(key, 0) + own / 1e9
    return out


def evaluate_queries(r, expected, settle=0):
    passes = r["passes"]
    failures, attempted, failed = [], 0, 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            probs = bl.check_query(expected, q)
            failed += bool(probs)
            failures += [f"pass {p['pass']} {q['name']}: {x}" for x in probs]
    warm = passes[1 + settle:]
    e2e = {
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (bl.median([p["wall_s"] for p in warm])[0], "s"),
    }
    detail = {"warm_passes": len(warm),
              "settle_pass_s": [p["wall_s"] for p in passes[1:1 + settle]]}
    for name in r["order"]:
        ws = [q["wall_s"] for p in warm for q in p["queries"] if q["name"] == name]
        detail[f"q.{name}.warm_s"] = bl.median(ws)[0]
        detail[f"q.{name}.cold_s"] = next(
            q["wall_s"] for q in passes[0]["queries"] if q["name"] == name)
    for layer, key in (("entry.build_s", "build_s"), ("spark.plan_s", "plan_s"),
                       ("spark.exec_s", "exec_s")):
        detail[layer] = bl.median([sum(q[key] for q in p["queries"]) for p in warm])[0]
        detail[layer + ".cold"] = sum(q[key] for q in passes[0]["queries"])
    detail["caches.fill_s"] = sum(passes[0]["fills"].values())
    for kind, v in passes[0]["fills"].items():
        detail[f"caches.fill_s.{kind}"] = v
    detail["caches.fill_s.warm"] = sum(v for p in passes[1:] for v in p["fills"].values())
    return e2e, detail, attempted, failed, failures


def evaluate_transfer(r, tree, settle=0):
    exp = bl.expected_steps(tree)
    passes = r["passes"]
    failures, attempted, failed = [], 0, 0
    for p in passes:
        for proto, steps in p["steps"].items():
            for step, rec in steps.items():
                attempted += 1
                probs = bl.check_step(exp[step], rec)
                failed += bool(probs)
                failures += [f"pass {p['pass']} {proto} {step}: {x}" for x in probs]
    warm = passes[1 + settle:]
    e2e = {
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (bl.median([p["wall_s"] for p in warm])[0], "s"),
    }
    n_small = len(tree["small"])
    detail = {"warm_passes": len(warm),
              "settle_pass_s": [p["wall_s"] for p in passes[1:1 + settle]]}
    for proto in passes[0]["steps"]:
        def per_pass(p):
            st = p["steps"][proto]
            cycle = sum(st[f"small.{s}"]["wall_s"] for s in ("upload", "download", "move", "delete"))
            return (bl.files_per_s(n_small, cycle),
                    bl.mb_per_s(tree["large_bytes"], tree["large_bytes"],
                                st["large.upload"]["wall_s"], st["large.download"]["wall_s"]))
        detail[f"{proto}_files_per_s"] = bl.median([per_pass(p)[0] for p in warm])[0]
        detail[f"{proto}_mb_per_s"] = bl.median([per_pass(p)[1] for p in warm])[0]
        for step in passes[0]["steps"][proto]:
            detail[f"bp.{proto}.{step}_s"] = bl.median(
                [p["steps"][proto][step]["wall_s"] for p in warm])[0]
            jobs = [p["steps"][proto][step]["spark_jobs"] for p in warm]
            if jobs[0] is not None:
                detail[f"bp.{proto}.{step}.spark_jobs"] = bl.median(jobs)[0]
    for proto, probe in r.get("probes", {}).items():
        detail[f"fileops.{proto}.list_s"] = probe["list_s"]
        detail[f"fileops.{proto}.plan_s"] = probe["plan_s"]
        for op in ("stat", "create", "open", "rename"):
            m, n = bl.median(probe[f"{op}_ms"])
            detail[f"fs.{proto}.{op}_ms"] = m
            detail[f"fs.{proto}.{op}_n"] = n
        detail[f"fs.{proto}.stat_ms_p99"] = bl.percentile(probe["stat_ms"], 99)[0]
        detail[f"fs.{proto}.read_mb_per_s"] = probe["read_mb_per_s"]
        detail[f"fs.{proto}.write_mb_per_s"] = probe["write_mb_per_s"]
        detail[f"client.{proto}.connect_ms"] = bl.median(probe["connect_ms"])[0]
        detail[f"client.{proto}.rtt_ms"] = bl.median(probe["rtt_ms"])[0]
        detail[f"client.{proto}.get_mb_per_s"] = probe["get_mb_per_s"]
        detail[f"client.{proto}.put_mb_per_s"] = probe["put_mb_per_s"]
    return e2e, detail, attempted, failed, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload in DROPPED:
        raise SystemExit(f"workload {a.workload} is not run: {DROPPED[a.workload]}")
    if a.workload not in MIN_PASSES:
        raise SystemExit(f"unknown workload {a.workload}; run one of {sorted(MIN_PASSES)}")
    missing = [p for p in PROGRAM_SOURCES if not p.exists()]
    if missing:
        raise SystemExit(f"program sources not found (run from a full checkout): {missing[0]}")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--min-passes", str(MIN_PASSES[a.workload])]
    if a.workload == "queries":
        expected = json.loads((BENCH / "expected.json").read_text())
        if expected["scale"] != SCALE:
            raise SystemExit("expected.json was made at another scale")
        args += ["--data", str(data_dir())]
    else:
        tree = bl.make_trees(str(work), a.seed, **TRANSFER_SIZES)
    busy0, steal0 = cpu_ticks()
    r, t_spawn = run_jvm(cp, work, args, timeout=170)
    busy1, steal1 = cpu_ticks()
    if a.workload == "queries":
        e2e, detail, attempted, failed, failures = evaluate_queries(
            r, expected["queries"], SETTLE_PASSES[a.workload])
    else:
        e2e, detail, attempted, failed, failures = evaluate_transfer(
            r, tree, SETTLE_PASSES[a.workload])
    e2e = {"setup_s": (r["ready_ms"] / 1e3 - t_spawn, "s"), **e2e,
           # the cold pass's value swings with JIT state; it stays in the record
           "driver_live_heap_mb": (max(p["live_heap_mb"] for p in r["passes"][1:]), "MB")}
    layers = spark_layers(r["passes"], cores, SETTLE_PASSES[a.workload]) if a.trace else {}
    if a.trace:
        warm = r["passes"][1 + SETTLE_PASSES[a.workload]:]
        detail["jvm.gc_ms"] = bl.median([p["jvm"]["gc_ms"] for p in warm])[0]
        detail["spark.gc_s"] = bl.median([p["spark"]["gc_ms"] / 1e3 for p in warm])[0]
    for f in failures:
        log(f"FAIL {f}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": cores, "scale": SCALE,
              "jvm_flags": r["jvm_flags"], "spark_conf": dict(r["spark_conf"]),
              "order": r.get("order"), "fail_frac": bl.fail_frac(failed, attempted),
              # CPU time the hypervisor gave to other guests during the run
              "cpu_steal_frac": (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0),
              "failures": failures, "end_to_end": e2e, "layers": layers,
              "passes": [{"wall_s": p["wall_s"], "live_heap_mb": p["live_heap_mb"]}
                         for p in r["passes"]],
              "detail": detail}
    if a.trace:
        spans = r["spans"]
        st = self_times(spans)
        record["self_s"] = {f"{k[0]}:{k[1]}": v for k, v in sorted(st.items())}
        if a.workload == "queries":
            split = sum(detail[k] for k in ("entry.build_s", "spark.plan_s", "spark.exec_s"))
            record["warm_split"] = {"entry+plan+exec_s": split,
                                    "warm_pass_s": e2e["warm_pass_s"][0],
                                    "bench_overhead_s": e2e["warm_pass_s"][0] - split,
                                    "passes": detail["warm_passes"]}
        # tracing overhead against the untraced run of the same seed, or
        # else the median of every untraced run of this workload so far
        same = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace0.json"
        untraced = [same] if same.exists() else sorted(
            (BUILD / "results").glob(f"{a.workload}-seed*-trace0.json"))
        if untraced:
            base = bl.median([json.loads(u.read_text())["end_to_end"]["warm_pass_s"][0]
                              for u in untraced])[0]
            record["tracing_overhead"] = {"untraced_runs": len(untraced),
                "traced_warm_pass_s": e2e["warm_pass_s"][0], "untraced_warm_pass_s": base,
                "overhead_s": e2e["warm_pass_s"][0] - base,
                "overhead_frac": e2e["warm_pass_s"][0] / base - 1}
        record["spans"] = [dict(s, workload=a.workload) for s in spans]
    res_dir = BUILD / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    (res_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    for k in ("warm_split", "tracing_overhead"):
        if k in record:
            log(f"{k}: {json.dumps(record[k])}")
    shown = layers if a.trace else e2e
    for k, v in {**{k: v[0] for k, v in shown.items()}, **detail}.items():
        log(f"{k:40s} {v:.6g}" if isinstance(v, (int, float)) else f"{k:40s} {v}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
