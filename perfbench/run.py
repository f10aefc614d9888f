"""graft performance benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload dq_graph --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the seed's
inputs and references (perfbench/gen.py, cached per seed), runs the workload
in one JVM on ``local[<cores>]``, checks every answer against the reference
and prints, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
give the same figures for a reader. ``--workload all`` runs every workload
in turn. perfbench/README.md documents workloads and metrics.
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
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ["dq_graph", "curate_dedup_ann"]
SPANS = ["sources.scan", "checks.metrics", "checks.valid_write", "checks.invalid_union",
         "operators.profile", "operators.graph_edges", "operators.pagerank",
         "dedup.components", "operators.lpa", "pipeline.curate", "dedup.pairs",
         "similarity.build", "similarity.search"]
SPAN_FIELDS = [("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("task_cpu_s", "s"),
               ("core_util", "ratio"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
               ("gc_s", "s")]
EXTRA_LAYER = [("iter.self_s", "s"), ("spark.retries", "count"), ("trace.overhead_s", "s")]
END_TO_END = [("setup_s", "s"), ("cpu_s", "s"), ("task_cpu_s", "s"),
              ("peak_task_mem_mb", "MB"), ("quality", "ratio")]
# Warm-up iterations in the set-up (one: setup_s is the cold path), and
# timed iterations per run at least; more do not fit the time budget of a
# benchmark pass. A traced run reports no setup_s, so it warms up once more
# and runs two traced/untraced pairs (U T, T U): the JIT still speeds each
# iteration up, and the pairs' opposite order cancels that trend in
# trace.overhead_s.
WARMUPS, MIN_ITERATIONS = 1, 2
TRACE_WARMUPS, TRACE_ITERATIONS = 2, 4


def canonical(x):
    """Answer with floats cut to 10 significant digits, for digests."""
    if isinstance(x, float):
        return float(f"{x:.10g}")
    if isinstance(x, dict):
        return {k: canonical(v) for k, v in x.items()}
    if isinstance(x, list):
        return [canonical(v) for v in x]
    return x


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# ------------------------------------------------------------------ checks
# Each returns (list of problems, quality figure in [0, 1]).

def check_dq_graph(ans, ref, data):
    figures = []
    for k, v in ref["metrics"].items():
        figures.append((f"metric {k}", close(ans["metrics"].get(k), v)))
    figures.append(("valid rows", ans["valid_rows"] == ref["valid_rows"]))
    figures.append(("invalid union rows", ans["invalid_union_rows"] == ref["invalid_union_rows"]))
    for c, want in ref["profile"].items():
        got = ans["profile"].get(c)
        ok = got is not None and got[:3] == want[:3] and all(
            close(g, w) for g, w in zip(got[3:], want[3:]))
        figures.append((f"profile {c}", ok))
    g, want = ans["graph"], ref["graph"]
    figures.append(("graph edges", g["edges"] == want["edges"]))
    figures.append(("graph nodes", g["nodes"] == want["nodes"] and g["same_nodes"]))
    for k in ["components", "component", "pagerank", "lpa"]:
        figures.append((f"graph {k}", g[k] == want[k]))
    bad = [name for name, ok in figures if not ok]
    return bad, 1 - len(bad) / len(figures)


def check_curate_ann(ans, ref, data):
    ids = set(ans["curated_ids"])
    bad = [f"exact copy {i} survived curation" for i in ref["exact_copies"] if i in ids]
    if not ids:
        bad.append("empty curated corpus")
    # near-dup pairs are injected with Jaccard above the threshold, so an
    # exact pair finder must put every surviving pair in one cluster
    rep = {a: b for a, b in ans["clusters"]}
    kept = [(a, b) for a, b in ref["near_pairs"] if a in ids and b in ids]
    bad += [f"near-dup pair {a},{b} not clustered" for a, b in kept
            if a not in rep or rep.get(a) != rep.get(b)]
    indexed = frozenset(i for i in ids if rep.get(i, i) == i)
    if indexed not in _truth:
        _truth[indexed] = gen.ann_truth(data, indexed)
    recall = []
    for q, want in _truth[indexed].items():
        got = ans["results"].get(q)
        if got is None or len(got) != 10 or len(set(got)) != 10 or not set(got) <= indexed:
            bad.append(f"query {q}: malformed top-10 {got}")
            continue
        recall.append(len(set(got) & want) / 10)
    return bad, statistics.fmean(recall) if recall else 0.0


_truth = {}


CHECKS = {"dq_graph": check_dq_graph, "curate_dedup_ann": check_curate_ann}


def evaluate(workload, raw, ref, data, trace):
    """Check every iteration and reduce the raw figures to metrics."""
    attempted = failed = 0
    digests, qualities, problems = [], [], []
    for it in raw["iterations"]:
        attempted += len(it["ops"])
        if "answer" in it:
            bad, quality = CHECKS[workload](it["answer"], ref, data)
            qualities.append(quality)
            digest = hashlib.sha256(json.dumps(canonical(it["answer"]), sort_keys=True)
                                    .encode()).hexdigest()
            if digests and digest != digests[0]:
                bad.append("answer differs from the first iteration's")
            digests.append(digest)
        else:
            bad = [it["error"]]
        if bad:
            problems.extend(bad[:5])
            failed += len(it["ops"])
    ok = [it for it in raw["iterations"] if it["phase"] == "timed" and "answer" in it]
    if not ok:
        raise SystemExit(f"perfbench: no timed {workload} iteration completed")
    med = statistics.median
    walls = [it["wall_s"] for it in ok]
    searches = [o["s"] for it in ok for o in it["ops"] if o["kind"] == "search"]
    builds = [o["s"] for it in ok for o in it["ops"] if o["kind"] == "build"]
    if not trace:
        metrics = {
            "setup_s": raw["setup_s"],
            "cpu_s": med(it["cpu_s"] for it in ok),
            "task_cpu_s": med(it["task_cpu_s"] for it in ok),
            "peak_task_mem_mb": max(it["peak_task_mem_mb"] for it in ok),
            "quality": statistics.fmean(qualities),
        }
        detail = {"timed_iterations": len(ok), "iter_wall_p50_s": med(walls),
                  "rows_per_s": ref["input_rows"] / med(walls),
                  "session_start_s": raw["session_s"],
                  "warmup_walls_s": [it["wall_s"] for it in raw["iterations"]
                                     if it["phase"] == "setup"]}
        if searches:
            detail.update({"build_s": med(builds), "search_p50_s": med(searches),
                           "search_samples": len(searches)})
    else:
        traced = [it for it in ok if it["traced"]]
        plain = [it for it in ok if not it["traced"]]
        metrics = {f"{span}.{field}": med([it["spans"].get(span, {}).get(field, 0.0)
                                            for it in traced])
                   for span in SPANS for field, _ in SPAN_FIELDS}
        metrics["iter.self_s"] = med(it["self_s"] for it in traced)
        metrics["spark.retries"] = float(sum(it["retries"] for it in ok))
        # timed iterations come in pairs of one traced and one untraced
        timed = [it for it in raw["iterations"] if it["phase"] == "timed"]
        pairs = [(a, b) if a["traced"] else (b, a) for a, b in zip(timed[::2], timed[1::2])
                 if "answer" in a and "answer" in b]
        metrics["trace.overhead_s"] = med(t["wall_s"] - u["wall_s"] for t, u in pairs)
        detail = {"traced_iterations": len(traced), "untraced_iterations": len(plain),
                  "overhead_pairs": len(pairs)}
    detail["fail_ratio"] = failed / attempted
    units = units_by_name()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            }, detail, problems


def run_workload(workload, seed, seconds, trace, cores, deadline):
    data = prepare(workload, seed)
    with open(os.path.join(data, "ref.json")) as f:
        ref = json.load(f)
    stat0 = cpu_ticks()
    raw = run_jvm(workload, data, cores, deadline, ["--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--warmups", str(TRACE_WARMUPS if trace else WARMUPS),
                  "--min-iterations", str(TRACE_ITERATIONS if trace else MIN_ITERATIONS)])
    stat1 = cpu_ticks()
    result, detail, problems = evaluate(workload, raw, ref, data, trace)
    if stat0 and stat1:
        busy, steal = (b - a for a, b in zip(stat0, stat1))
        detail["host_steal_share"] = steal / max(1, busy + steal)
    return result, detail, problems


def prepare(workload, seed):
    data = os.path.join(build.OUT, "data", f"{workload}-{seed}-{gen.VERSION}")
    gen.generate(workload, seed, data)
    return data


def run_jvm(workload, data, cores, deadline, args):
    """One ``graftbench.Main`` JVM; returns its raw JSON."""
    work = os.path.join(build.OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join([build.CLASSES, build.spark_jars()]), "graftbench.Main",
           "--workload", workload, "--data", data, "--work", work, "--cores", str(cores),
           "--out", out, *args]
    log_path = os.path.join(build.OUT, f"jvm-{workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, env={
            **os.environ, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {workload} did not finish in time (log: {log_path})")
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: {workload} JVM exited with {proc.returncode} (log: {log_path})")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def cpu_ticks():
    """(busy, steal) ticks of all CPUs from /proc/stat, where it exists:
    the share the hypervisor took explains wall-time drift on shared hosts."""
    try:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = \
                [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return user + nice + system + irq + softirq, steal


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def units_by_name():
    u = dict(END_TO_END)
    u.update({f"{s}.{f}": unit for s in SPANS for f, unit in SPAN_FIELDS})
    u.update(EXTRA_LAYER)
    return u


def report(workload, result, detail, problems):
    for name, m in result["metrics"].items():
        print(f"{workload}  {name} = {m['value']:.6g} {m['unit']}")
    for k, v in detail.items():
        print(f"{workload}  [{k}] {v}")
    for p in problems:
        print(f"{workload}  MISMATCH {p}")
    print(f"{workload}  attempted={result['attempted']} failed={result['failed']}")


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    a = ap.parse_args()
    os.chdir(build.ROOT)
    budget = 890 if build.build() else 170
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        deadline = start + budget if a.workload != "all" else time.time() + 170
        result, detail, problems = run_workload(w, a.seed, a.seconds, bool(a.trace), a.cores,
                                                deadline)
        report(w, result, detail, problems)
        results[w] = result
    print(json.dumps(results[a.workload] if a.workload != "all" else results))


if __name__ == "__main__":
    main()
