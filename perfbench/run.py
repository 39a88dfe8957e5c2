#!/usr/bin/env python3
"""Benchmark of graft's VLM training-data pipeline, end to end and per layer.

    python3 perfbench/run.py --workload {vlm_e2e,qa_dense} --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the library and the
benchmark's own JVM program with sbt; each (workload, seed) generates its inputs once,
before the timed process starts its clock. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. See perfbench/README.md for the workloads and the metric map.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

from metrics import failed_frac, median, self_time, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("vlm_e2e", "qa_dense")
DATASETS = ("sunrgbd", "coco", "matterport", "objectron", "hypersim", "taskonomy")
# A/B overrides the program reads from the environment; a result recorded
# under any of them would not describe the program's defaults
OVERRIDES = ("SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_BYPASS_THRESHOLD", "SPARK_GRAFT_INIT_MULT", "GRAFT_PRESET")
OVERRIDE_PREFIXES = ("SPARK_GRAFT_BENCH_", "SPARK_GRAFT_PROBE_")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
BENCH_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, cwd=None, env=None, stdout=None):
    """Run a child in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"{' '.join(cmd[:3])} ... exited with {proc.returncode}")
    return err


def source_digest():
    """Content hash of everything the build compiles: the library tree and
    the benchmark's own sources."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(tree, env):
    """Compile with sbt once per source tree; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["tree"] == tree:
            return b["classpath"]
    log("building (first run for this source tree)")
    out = os.path.join(WORK, "build.log")
    with open(out, "w") as f:
        run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f)
    with open(out) as f:
        lines = [ln.strip() for ln in f if ln.strip() and not ln.startswith("[")]
    classpath = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"tree": tree, "classpath": classpath}, f)
    return classpath


def java(classpath, main, args, env, timeout):
    work_tmp = os.path.join(WORK, "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work_tmp}",
              f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              "-cp", classpath, main] + args)
    return run_child(cmd, timeout, cwd=WORK, env=env)


def json_lines(d):
    """Rows of a Spark JSON output directory."""
    for name in sorted(os.listdir(d)):
        if name.startswith("part-"):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    yield json.loads(line)


def qa_facts(qa_dir, returned):
    """What one pass wrote: per-task rows against the returned and summary
    counts, contiguous ids, and an order-insensitive digest of every output
    field except the source path, which names files whose names change on
    every write."""
    ds = next(n[:-len("_summary")] for n in os.listdir(qa_dir) if n.endswith("_summary"))
    summary = {r["task_type"]: r["total_questions"] for r in json_lines(os.path.join(qa_dir, f"{ds}_summary"))}
    problems = []
    rows_total = 0
    for task, n in sorted(returned.items()):
        ids = sorted(int(r["id"].rsplit("_", 1)[1]) for r in json_lines(os.path.join(qa_dir, f"{ds}_{task}_qa")))
        rows_total += len(ids)
        if not (n == summary.get(task, 0) == len(ids)):
            problems.append(f"{task}: returned {n}, summary {summary.get(task, 0)}, rows {len(ids)}")
        if ids != list(range(len(ids))):
            problems.append(f"{task}: ids are not 0..{len(ids) - 1}")
    combined = digest = 0
    for r in json_lines(os.path.join(qa_dir, f"{ds}_all_qa_pairs")):
        r.get("metadata", {}).pop("source_file", None)
        h = hashlib.sha1(json.dumps(r, sort_keys=True).encode()).hexdigest()
        digest = (digest + int(h[:10], 16)) % (1 << 64)
        combined += 1
    if combined != rows_total:
        problems.append(f"combined output has {combined} rows, the tasks {rows_total}")
    return problems, f"{combined}:{digest:x}"


def frame_ids(frames_dir):
    """image_id per dataset in the unified frames written by Phase 1."""
    ids = {}
    for d, _, files in os.walk(frames_dir):
        if any(f.startswith("part-") for f in files):
            for r in json_lines(d):
                ids.setdefault(r["dataset"], []).append(r["image_id"])
    return ids


def judge(workload, seed, raw, run_dir):
    """Output checks per pass -> (attempted, failed, problems). An operation
    is a Phase-1 processor call or a QA run; a failed check fails it."""
    planted = raw["planted"]
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f).get(workload, {}).get(str(seed))
    recorded_path = os.path.join(WORK, "inputs", f"{workload}-{seed}", "digest")
    if recorded is None and os.path.exists(recorded_path):
        with open(recorded_path) as f:
            recorded = f.read().strip()
    attempted = failed = 0
    problems = []
    for it in raw["iterations"]:
        ops = {f"p1.{d}": True for d in DATASETS} if workload == "vlm_e2e" else {}
        ops["qa"] = True
        if it["error"] or "check_error" in it:
            bad = [it["error"] or it["check_error"]]
            ops = {k: False for k in ops}
        else:
            bad, digest = qa_facts(os.path.join(run_dir, "out", "qa"), it["returned"])
            if recorded is None:
                recorded = digest
                with open(recorded_path, "w") as f:
                    f.write(recorded)
            if digest != recorded:
                bad.append(f"digest {digest} != recorded {recorded}")
            ops["qa"] = not bad
            if workload == "vlm_e2e":
                written = frame_ids(os.path.join(run_dir, "out", "frames"))
                it["frame_counts"] = {d: len(v) for d, v in written.items()}
                for d in DATASETS:
                    got = sorted(written.get(d, []))
                    viol = it["violations"].get(d, 0)
                    if got != sorted(planted[d]["image_ids"]) or viol:
                        ops[f"p1.{d}"] = False
                        bad.append(f"{d}: {len(got)} frames out of {planted[d]['frames']} planted, {viol} violations")
        attempted += len(ops)
        failed += sum(1 for ok in ops.values() if not ok)
        problems += [f"pass {it['run']}: {b}" for b in bad]
    return attempted, failed, problems


def end_to_end(raw, planted):
    walls = [it["wall_s"] for it in raw["iterations"]]
    frames = sum(p["frames"] for p in planted.values())
    p50 = median(walls)
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pipeline_s": (p50, "s"),
        "frames_per_s": (frames / p50, "frames/s"),
    }


def per_layer(raw, untraced_walls, planted):
    """Median over the traced passes of each span's stats."""
    cores = raw["cores"]
    spans = raw["spans"]
    groups = raw["groups"]
    traced = [it["run"] for it in raw["iterations"]]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def sec(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_s(s):
        return self_time((s["start_ns"] / 1e9, s["end_ns"] / 1e9),
                         [(c["start_ns"] / 1e9, c["end_ns"] / 1e9) for c in children.get(s["id"], [])])

    def span_stats(name, run, extra):
        s = next((s for s in spans if s["name"] == name and s["run"] == run), None)
        g = groups.get(f"{name}#{run}")
        if s is None or g is None:
            return None
        wall = sec(s)
        st = {
            "wall_s": wall, "jobs": g["jobs"], "tasks": g["tasks"],
            "cpu_s": g["cpu_ns"] / 1e9, "core_util": g["run_ms"] / 1000.0 / (wall * cores),
            "gc_s": g["gc_ms"] / 1000.0, "input_mb": g["input_bytes"] / 2**20,
            "shuffle_mb": (g["shuffle_read_bytes"] + g["shuffle_write_bytes"]) / 2**20,
            "spill_mb": g["spill_bytes"] / 2**20, "task_skew": g["task_skew"],
        }
        st.update(extra(s, g))
        return st

    it_by_run = {it["run"]: it for it in raw["iterations"]}
    layers = {}
    for d in DATASETS:
        def extra(s, g, d=d):
            return {"files": planted[d]["files"] if d in planted else 0,
                    "frames": it_by_run[s["run"]].get("frame_counts", {}).get(d, 0)}
        layers[f"p1.{d}"] = (("wall_s", "s"), ("cpu_s", "s"), ("core_util", "ratio"), ("input_mb", "MB"),
                             ("task_skew", "ratio"), ("files", "count"), ("frames", "count")), extra

    def qa_extra(s, g):
        it = it_by_run[s["run"]]
        corpus = it.get("frames_bytes") or raw["corpus_bytes"]
        return {"scan_amp": g["input_bytes"] / corpus, "pairs": it.get("pairs", 0),
                "output_mb": it.get("output_bytes", 0) / 2**20}
    layers["qa"] = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
                    ("core_util", "ratio"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                    ("task_skew", "ratio"), ("scan_amp", "ratio"), ("pairs", "count"),
                    ("output_mb", "MB")), qa_extra

    out = {}
    for name, (stats, extra) in layers.items():
        samples = [x for x in (span_stats(name, r, extra) for r in traced) if x is not None]
        for stat, unit in stats:
            value = median([x[stat] for x in samples]) if samples else 0
            out[f"{name}.{stat}"] = (value, unit)

    start = next(s for s in spans if s["name"] == "session.start")
    warm = next(s for s in spans if s["name"] == "session.warm")
    out["session.start.wall_s"] = (sec(start), "s")
    out["session.warm.wall_s"] = (sec(warm), "s")
    out["session.warm.jobs"] = (groups.get("session.warm#-1", {}).get("jobs", 0), "count")
    # peak RSS follows when the collector chooses to grow the heap; between
    # seeds it spreads too widely to carry an end-to-end bound
    out["process.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")

    # share of each traced pipeline run that its layer spans account for
    covered = []
    for r in traced:
        p = next(s for s in spans if s["name"] == "pipeline" and s["run"] == r)
        layer_self = sum(self_s(c) for c in children.get(p["id"], []))
        covered.append(layer_self / sec(p))
    out["pipeline.covered_frac"] = (median(covered), "ratio")
    walls = [it["wall_s"] for it in raw["iterations"]]
    out["trace.overhead_frac"] = (median(walls) / median(untraced_walls) - 1.0, "ratio")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    set_overrides = sorted(k for k in os.environ if k in OVERRIDES or k.startswith(OVERRIDE_PREFIXES))
    if set_overrides:
        raise SystemExit(f"refusing to record: A/B override(s) set: {', '.join(set_overrides)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no graft sources under {ROOT}/src/main/scala: nothing to benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")

    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the build takes Spark's jars from an installation whose bin/ is on PATH
        homes = [os.path.dirname(os.path.abspath(d)) for d in env.get("PATH", "").split(os.pathsep) if d]
        env["SPARK_HOME"] = next((h for h in homes if glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))), "")
    if not os.path.isdir(os.path.join(env["SPARK_HOME"], "jars")):
        raise SystemExit("no Spark installation: set SPARK_HOME or put Spark's bin/ on PATH")
    os.makedirs(WORK, exist_ok=True)
    tree = source_digest()
    classpath = build(tree, env)
    nproc = os.cpu_count()
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    in_dir = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}")
    # the session sizes its shuffle start from the corpus it is about to read
    env["SPARK_GRAFT_SF_DIR"] = os.path.join(in_dir, "input")
    # scratch of earlier processes, left behind if one was killed
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    def bench(trace):
        result = os.path.join(run_dir, f"raw-trace{trace}.json")
        err = java(classpath, "perfbench.Bench", [a.workload, str(a.seed), in_dir, run_dir, str(a.seconds),
                                                 str(trace), result], env, BENCH_TIMEOUT_S)
        for line in err.splitlines():
            if line.startswith("[perfbench]"):
                log(line[len("[perfbench] "):])
        with open(result) as f:
            raw = json.load(f)
        # checked now: the next process overwrites this one's output, and
        # only the reduced facts are kept
        verdict = judge(a.workload, a.seed, raw, run_dir)
        shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
        return raw, verdict

    # untraced pass times of this workload and source tree: the base of
    # trace.overhead_frac. Every process pays the same cold start, so passes
    # of earlier untraced runs compare with a traced one; a traced run with
    # no such base makes one first.
    untraced_log = os.path.join(WORK, f"untraced-{a.workload}-{tree[:12]}.json")
    untraced = []
    if os.path.exists(untraced_log):
        with open(untraced_log) as f:
            untraced = json.load(f)
    attempted = failed = 0
    problems = []
    for trace in ([0] if a.trace and not untraced else []) + [a.trace]:
        raw, (at, fa, pr) = bench(trace)
        attempted, failed, problems = attempted + at, failed + fa, problems + pr
        if trace == 0:
            untraced += [it["wall_s"] for it in raw["iterations"] if not it["error"]]
            with open(untraced_log, "w") as f:
                json.dump(untraced, f)
    planted = raw["planted"]
    for p in problems[:20]:
        log(f"check failed: {p}")
    metrics = per_layer(raw, untraced, planted) if a.trace else end_to_end(raw, planted)
    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": nproc,
             "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"], "spark_cores": raw["cores"],
             "heap": HEAP, "heap_max_mb": raw["heap_max_mb"], "commit": f"tree-sha1:{tree}",
             "passes": len(raw["iterations"])}
    walls = [it["wall_s"] for it in raw["iterations"]]
    tail = tail_percentile(walls)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"env": stamp, "attempted": attempted, "failed": failed, "problems": problems,
                   "metrics": metrics, "pipeline_walls_s": walls}, f, indent=1)
    # spans with each job's call site, for reading a traced run after the fact
    if a.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"spans": raw["spans"], "groups": raw["groups"]}, f, indent=1)
    print(f"env: {json.dumps(stamp)}")
    print(f"pipeline runs: {len(walls)}, median {median(walls):.3f} s; "
          + (f"p{tail[0]} {tail[1]:.3f} s" if tail else "no percentile has 10 samples beyond it"))
    print(f"failed_frac: {failed_frac(attempted, failed):.4f} ({failed} of {attempted} operations)")
    for name, (value, unit) in metrics.items():
        print(f"{name}: {value:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
