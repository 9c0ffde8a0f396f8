#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in a closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 1

One client thread sends the workload's queries to a local[4] session
(4 shuffle partitions, 3 GiB heap), the next query only after the previous
one has finished and the session's storage has been released. A pass sends
every query once, in an order drawn from the seed. Four untimed passes warm
the session up; then come --seconds / 4 timed passes, at least three. The
count of passes is fixed by --seconds, not by how fast they run, so two
versions of the engine are measured on the same work.

Every query's output in the first warm-up pass is checked: its normalized
hash must equal the hash of DuckDB running the query's oracle SQL over the
same input. The check's time is taken off setup_s. A timed query counts as
failed if it throws, or if its query's checked output differs.

--trace 0 prints every end-to-end metric:
  setup_s      JVM launch to the end of the warm-up passes, output check excluded
  pass_s       median pass time: each query's latency plus the release after it
  pass_cpu_s   median CPU time of the JVM (all threads) in a pass
  query_p50_s  median query latency, from the call into the query function
               until the noop write returns
  query_p90_s  nearest-rank 90th percentile of the same latencies
  rss_peak_mb  the JVM's peak resident set (VmHWM)
--trace 1 interleaves traced and untraced passes and prints every per-layer
metric (medians over the traced passes), the tracing overhead and the path
of the span file. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Inputs are generated by gen.py and cached per seed; oracle hashes are
cached per version of gen.py. The engine and the runner are compiled by build.py. All
of it lives under $CARGO_TARGET_DIR (default .bench_build) in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

HEAP = "3g"
YOUNG = "768m"
NOMINAL_PASS_S = 4
RUN_LIMIT_S = 170
KEEP_SEEDS = 3
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# per-layer metrics whose values must repeat exactly between passes
REPEATING = ["operators.construct_jobs", "plans.exchanges", "plans.broadcast_exchanges",
             "plans.reused_exchanges", "plans.smj", "plans.shj", "plans.bhj",
             "sources.records_written"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_ticks():
    """(steal ticks, all ticks) summed over the host's cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def quantile(xs, q):
    """Nearest-rank quantile: a measured sample, never an interpolation."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def dataset_id():
    """Names the cached inputs and oracle hashes after what determines their
    content: the generator's code."""
    return hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]


def ensure_data(base, dataset, seed):
    root = base / "data" / dataset
    out = root / f"seed-{seed}"
    if not out.is_dir():
        import gen
        tmp = root / f"seed-{seed}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        tmp.rename(out)
    # keep the cache small: only the most recently used seeds stay
    out.touch()
    others = sorted((p for p in root.iterdir() if p != out), key=lambda p: p.stat().st_mtime)
    for old in others[:max(0, len(others) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def run_engine(classes, work, config, deadline):
    # a fixed heap and young generation: adaptive sizing would make the
    # peak RSS follow GC timing rather than the workload's memory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'jvm-tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    (work / "jvm-tmp").mkdir(parents=True)
    conf_file = work / "runner.conf"
    conf_file.write_text("".join(f"{k}={v}\n" for k, v in config.items()))
    cmd += ["-cp", f"{classes}:{build.classpath()}", "perfbench.Runner", str(conf_file)]
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_ESTATE_DIR", "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS")}
    log = work / "engine.log"
    with open(log, "w") as out:
        try:
            code = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                  timeout=max(10, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"engine run failed ({code}); log: {log}")
    return json.loads(Path(config["out"]).read_text())


def check_outputs(result, work, data, hashes):
    """Counts the timed queries and the failed ones: those that threw, and
    those of a query whose output in the check pass (the first warm-up pass)
    threw or differs from the oracle. Returns (attempted, failed, messages)."""
    import oracle
    con = oracle.connect(str(data))
    wrong = set()
    msgs = []
    for q in result["warmup"][0]["queries"]:
        got, rows = oracle.result_hash(con, str(work / "checks" / q["name"]))
        if q["error"] is not None or got != hashes[q["name"]]:
            wrong.add(q["name"])
            msgs.append(f"check pass {q['name']}: " + (q["error"] or
                        f"output ({rows} rows) differs from the oracle"))
    con.close()
    attempted = failed = 0
    for p in result["passes"]:
        for q in p["queries"]:
            attempted += 1
            if q["error"] is not None:
                msgs.append(f"pass {p['pass']} {q['name']}: {q['error']}")
            if q["error"] is not None or q["name"] in wrong:
                failed += 1
    return attempted, failed, msgs


def end_to_end(result):
    passes = result["passes"]
    lat = [q["latency_s"] for p in passes for q in p["queries"] if q["error"] is None]
    return {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["time_s"] for p in passes),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_p90_s": quantile(lat, 0.9) if lat else 0.0,
        "rss_peak_mb": result["rss_peak_mb"],
    }


def per_layer(result):
    """Medians over the traced passes, and the counts that differed
    between passes."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    out = {"graft.session_build_s": result["session_build_s"],
           "graft.warmup_pass_s": result["warmup_pass_s"],
           "graft.trace_overhead_s": statistics.median(p["time_s"] for p in traced)
           - statistics.median(p["time_s"] for p in plain)}
    out.update((n, statistics.median(p["layers"][n] for p in traced))
               for n in traced[0]["layers"])
    unrepeated = [n for n in REPEATING if len({p["layers"][n] for p in traced}) > 1]
    if len({p["disk_bytes"] for p in result["passes"]}) > 1:
        unrepeated.append("sources.disk_mb")
    return out, unrepeated


def with_units(values, kind):
    """The metrics in BENCHMARK.json's order, with its units; the runner
    must produce exactly the metrics listed there."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())[kind]
    if set(values) != {m["name"] for m in spec}:
        fail(f"{kind} metrics differ from BENCHMARK.json: "
             f"{sorted(set(values) ^ {m['name'] for m in spec})}")
    return [(m["name"], values[m["name"]], m["unit"]) for m in spec]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S

    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload in spec["waiting"]:
        fail(f"workload {args.workload} is not runnable yet: {spec['waiting'][args.workload]}")
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    excluded = sorted(set(wl["queries"]) & set(spec["excluded"]["queries"]))
    if excluded:
        fail(f"workload {args.workload} holds excluded queries {excluded}: "
             f"{spec['excluded']['reason']}")

    classes = build.build()
    base = build.build_dir() / "perfbench"
    dataset = dataset_id()
    data = ensure_data(base, dataset, args.seed)
    work = base / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spans = base / "trace" / f"{args.workload}-seed{args.seed}.spans.jsonl"

    steal0, ticks0 = cpu_ticks()
    t0 = time.monotonic()
    result = run_engine(classes, work, {
        "queries": ",".join(wl["queries"]), "data": data, "work": work,
        "out": work / "result.json", "seed": args.seed,
        "passes": max(3, round(args.seconds / NOMINAL_PASS_S)), "trace": args.trace,
        "spans": spans,
    }, deadline)
    wall = time.monotonic() - t0
    steal1, ticks1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, ticks1 - ticks0)

    import oracle
    sql = json.loads((work / "oracle_sql.json").read_text())
    cache = base / "oracle" / f"{dataset}.json"
    cache.parent.mkdir(parents=True, exist_ok=True)
    hashes = oracle.oracle_hashes(str(data), sql, str(cache))
    attempted, failed, msgs = check_outputs(result, work, data, hashes)

    passes = result["passes"]
    print(f"workload {args.workload}, seed {args.seed}: {len(wl['queries'])} queries, "
          f"{len(passes)} timed passes, {attempted} timed queries (samples); "
          f"closed loop, 1 client, local[4], shuffle partitions 4, heap {HEAP} "
          f"(young {YOUNG})")
    print(f"host: nproc {os.cpu_count()}, cpu steal {steal:.2%} over the {wall:.1f} s engine run")
    print(f"output check: {len(wl['queries'])} queries in the first warm-up pass against "
          f"their DuckDB oracle hashes; its {result['check_s']:.2f} s are left out of setup_s")
    for m in msgs[:10]:
        print(f"FAILED {m}")
    print(f"fail_ratio {failed}/{attempted} = {failed / max(1, attempted):.3f}")
    if args.trace:
        values, unrepeated = per_layer(result)
        print(f"tracing overhead {values['graft.trace_overhead_s']:+.4f} s per pass "
              f"(traced minus untraced median pass_s); spans: {spans}")
        print("counts that did not repeat exactly across passes: " +
              (", ".join(unrepeated) if unrepeated else "none"))
        metrics = with_units(values, "per_layer")
    else:
        metrics = with_units(end_to_end(result), "end_to_end")
    for name, value, unit in metrics:
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, v, u in metrics}}))


if __name__ == "__main__":
    main()
