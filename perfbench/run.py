"""Benchmark of the graft dedup pipeline and its serving index.

    python3 perfbench/run.py --workload <web_mix|dup_families|index_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program (perfbench/build.py) on
first use, runs one JVM with a closed loop of one caller on local[4]
for --seconds, checks every output, prints every sample and metric, and
as its last line one JSON object {correct, attempted, failed, metrics}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones (from a traced run beside an untraced one).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("web_mix", "dup_families", "index_serve")
JVM_TIMEOUT_S = 170

BATCH_SPANS = ("text.extract", "pipeline.identity", "pipeline.exact", "tfidf.fit",
               "hash.signatures", "lsh.candidates", "verify.pairs", "lsh.simhash",
               "substr.edges", "cluster.cc", "pipeline.final_join")
SPAN_FIELDS = ("wall_s", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "jobs",
               "task_skew", "rows_out")
# JVM add-opens Spark needs on JDK 17 outside spark-submit (Spark's
# JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them;
    a single value is its own quartiles."""
    if not values:
        raise ValueError("no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def median(values):
    return quartiles(values)[1]


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ aggregation

def _ok(raw, *kinds):
    return [s for s in raw["samples"] if s["ok"] and s["kind"] in kinds]


def _stat(values, unit):
    q1, med, q3 = quartiles(values)
    return {"value": med, "unit": unit, "n": len(values), "q1": q1, "q3": q3}


def end_to_end(raw):
    """End-to-end metrics of an untraced run: each with its median,
    quartiles and sample count."""
    serve = raw["workload"] == "index_serve"
    m = {}
    if serve:
        # one episode's docs over the sum of its per-round median op walls:
        # a search's cost depends on its round (the index grows), so the
        # medians are taken per (op, round)
        ops = _ok(raw, "timed-put", "timed-search")
        groups = {}
        for s in ops:
            groups.setdefault((s["kind"], s["round"]), []).append(s)
        docs = sum(median([s["docs"] for s in g]) for g in groups.values())
        wall = sum(median([s["wall_s"] for s in g]) for g in groups.values())
        m["docs_per_s"] = {"value": docs / wall, "unit": "docs/s", "n": len(ops)}
        m["recall"] = _stat([s["recall"] for s in _ok(raw, "timed-search")], "frac")
    else:
        runs = _ok(raw, "timed")
        rate = _stat([s["docs"] / s["wall_s"] for s in runs], "docs/s")
        rate["value"] = runs[0]["docs"] / median([s["wall_s"] for s in runs])
        m["docs_per_s"] = rate
        m["recall"] = _stat([s["recall"] for s in runs], "frac")
    m["setup_s"] = {"value": raw["setup_s"], "unit": "s", "n": 1}
    m["peak_rss_mb"] = {"value": raw["peak_rss_mb"], "unit": "MB", "n": 1}
    m["heap_retained_mb"] = {"value": raw["heap_retained_mb"], "unit": "MB", "n": 1}
    return m


def per_layer(raw):
    """Per-layer metrics of a traced run: the median over the traced
    samples of each span's counts. A layer the workload does not run
    reports 0."""
    spans = [sp for run in raw["spans"] for sp in run]
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append(sp)

    def med(name, field):
        xs = [sp[field] for sp in by_name.get(name, [])]
        return median(xs) if xs else 0.0

    units = {"wall_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "jobs": "count", "task_skew": "ratio", "rows_out": "count"}
    m = {}
    for name in BATCH_SPANS:
        for f in SPAN_FIELDS:
            m["%s.%s" % (name, f)] = {"value": med(name, f), "unit": units[f],
                                      "n": len(by_name.get(name, []))}
    dec = [s["decisions"] for s in _ok(raw, "traced") if "decisions" in s]

    def dmed(key):
        return median([d[key] for d in dec]) if dec else 0.0

    cands = dmed("candidates")
    m["verify.pairs.useful_frac"] = {
        "value": dmed("verified") / cands if cands else 0.0, "unit": "frac"}
    m["lsh.candidates.pairs_out"] = {"value": cands, "unit": "count"}
    m["lsh.simhash.edges_out"] = {"value": dmed("simhash_edges"), "unit": "count"}
    m["substr.edges.edges_out"] = {"value": dmed("substr_edges"), "unit": "count"}
    m["tfidf.fit.hot_shingles"] = {"value": dmed("hot_shingles"), "unit": "count"}
    comps = [s["components"] for s in _ok(raw, "traced") if "components" in s]
    m["cluster.cc.components"] = {"value": median(comps) if comps else 0.0, "unit": "count"}

    m["ops.put.wall_s"] = {"value": med("ops.put", "wall_s"), "unit": "s"}
    m["ops.put.jobs"] = {"value": med("ops.put", "jobs"), "unit": "count"}
    m["ops.search.wall_s"] = {"value": med("ops.search", "wall_s"), "unit": "s"}
    m["ops.search.jobs"] = {"value": med("ops.search", "jobs"), "unit": "count"}
    m["ops.search.input_mb"] = {"value": med("ops.search", "input_mb"), "unit": "MB"}
    puts = _ok(raw, "timed-put", "traced-put")
    m["ckpt.files_per_put"] = {
        "value": median([s["files_written"] for s in puts]) if puts else 0.0, "unit": "count"}
    m["ckpt.bytes_per_put"] = {
        "value": median([s["bytes_written"] for s in puts]) if puts else 0.0, "unit": "bytes"}
    m["ckpt.files_total"] = {
        "value": max([s["files_total"] for s in puts]) if puts else 0.0, "unit": "count"}

    if raw["workload"] == "index_serve":
        walls = {k: sum(s["wall_s"] for s in _ok(raw, k + "-put", k + "-search"))
                 for k in ("timed", "traced")}
        n = {k: len(_ok(raw, k + "-put", k + "-search")) for k in ("timed", "traced")}
        overhead = (walls["traced"] / n["traced"]) / (walls["timed"] / n["timed"]) - 1
        covered = sum(sp["wall_s"] for sp in spans) / walls["traced"]
    else:
        traced = [s["wall_s"] for s in _ok(raw, "traced")]
        overhead = median(traced) / median([s["wall_s"] for s in _ok(raw, "timed")]) - 1
        covered = median([sum(sp["wall_s"] for sp in run) / s["wall_s"]
                          for run, s in zip(raw["spans"], _ok(raw, "traced"))])
    m["trace.overhead_frac"] = {"value": overhead, "unit": "frac"}
    m["trace.span_coverage_frac"] = {"value": covered, "unit": "frac"}
    return m


def summarise(raw, spec):
    """The result object of one run, plus the full metric records."""
    attempted = len(raw["samples"])
    failed = sum(1 for s in raw["samples"] if not s["ok"])
    measured = bool(_ok(raw, "timed", "timed-search"))
    if raw["trace"]:
        full, wanted = per_layer(raw), spec["per_layer"]
        measured = measured and bool(_ok(raw, "traced", "traced-search"))
    else:
        full, wanted = end_to_end(raw), spec["end_to_end"]
    names = [w["name"] for w in wanted]
    if sorted(full) != sorted(names):
        raise SystemExit("metric names differ from BENCHMARK.json: printed %s, declared %s"
                         % (sorted(set(full) - set(names)), sorted(set(names) - set(full))))
    for w in wanted:
        if full[w["name"]]["unit"] != w["unit"]:
            raise SystemExit("unit of %s differs from BENCHMARK.json" % w["name"])
    result = {"correct": failed == 0 and measured, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": full[n]["value"], "unit": full[n]["unit"]}
                          for n in names}}
    return result, full


# ------------------------------------------------------------------ run

def run_jvm(args, classes, jars, work, deadline):
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false"]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also on SIGTERM/Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-6000:]
        raise SystemExit("benchmark JVM %s\n%s" % (
            "timed out" if rc is None else "exited with %s" % rc, tail))
    with open(out) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    start = time.time()
    spec = load_spec()
    try:
        classes, jars, digest = build.build()
    except build.BuildError as e:
        raise SystemExit("build failed: %s" % e)
    # the first run in a checkout pays the build; every run then gets
    # the same JVM budget
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, total0 = cpu_ticks()
    try:
        raw = run_jvm(args, classes, jars, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    raw["env"].update({
        "nproc": os.cpu_count(), "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "git_commit": git_commit(), "source_sha256": digest, "seed": args.seed,
        "build_and_run_s": time.time() - start})
    result, full = summarise(raw, spec)

    for s in raw["samples"]:
        print("sample %-14s ok=%-5s wall_s=%s %s" % (
            s["kind"], s["ok"], s.get("wall_s"), s.get("error", "")))
    print("env %s" % json.dumps(raw["env"], sort_keys=True))
    print("input %s" % json.dumps(raw.get("input"), sort_keys=True))
    for name, m in full.items():
        extra = ""
        if "q1" in m:
            extra = " q1=%.6g q3=%.6g" % (m["q1"], m["q3"])
        print("metric %-36s %-14.6g %-7s n=%s%s" % (name, m["value"], m["unit"],
                                                     m.get("n", "-"), extra))
    res_dir = os.path.join(build.OUT, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, "%s-seed%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as fh:
        json.dump({"result": result, "metrics": full, "raw": raw}, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
