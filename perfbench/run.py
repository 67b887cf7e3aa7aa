"""graft benchmark: one closed-loop workload per run, measured through the
engine's public calls (see BENCHMARK.json for the workloads and metrics).

    python3 perfbench/run.py --workload search --seed 7 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (perfbench/build.py) and records one class-data
sharing archive per workload in an unmeasured training run. The last line
of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the per-layer ones, from a run that also records spans around
every layer call and replays each layer on the workload's data after the
measured rounds. A run measures in three rounds, one after each set-up
repetition, and --seconds is shared among them. Both print a table before the JSON line: the workload's
own metrics, the environment, and which side of each engine path choice
the inputs fall on.
"""
import argparse
import json
import os
import re
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("search", "sql-ops")
WORK = ".bench_build/run"
JVM_TIMEOUT_S = 165

END_TO_END = [("setup_s", "s"), ("p50_ms", "ms"), ("throughput_per_s", "1/s"),
              ("peak_heap_mb", "MB")]
# What each layer's metrics should move, and on which workload; on the
# other workload the prediction is no change.
PER_LAYER = [
    # search setup_s (bulk build) and the printed ingest/commit numbers
    ("analyze.us_per_doc", "us"), ("analyze.tokens_per_doc", "count"),
    ("codec.encode_ns_per_posting", "ns"), ("codec.bytes_per_posting", "B"),
    # search p50_ms and throughput_per_s
    ("codec.decode_ns_per_posting", "ns"),
    # setup_s on both workloads (each set-up is a bulk build); the search
    # run's commit_p50_ms (jobs, commit)
    ("build.analyze_s", "s"), ("build.postings_s", "s"), ("build.docmeta_s", "s"),
    ("build.commit_s", "s"), ("build.jobs", "count"),
    ("build.shuffle_write_bytes", "B"), ("build.spill_bytes", "B"),
    # the search run's commit_p50_ms and mixed_search_p50_ms
    ("table.manifest_read_ms", "ms"), ("table.segments", "count"),
    # search p50_ms and throughput_per_s; engine_open_ms also mixed_search;
    # jobs_per_query x spark.job_floor_ms bounds what a job-free driver path
    # can save on the driver-path queries
    ("query.parse_us", "us"), ("query.expand_ms", "ms"), ("query.plan_ms", "ms"),
    ("query.scan_ms", "ms"), ("query.wand_ms", "ms"), ("query.unattributed_ms", "ms"),
    ("query.posting_rows", "count"), ("query.posting_bytes", "B"),
    ("query.postings", "count"), ("query.jobs_per_query", "count"),
    ("query.engine_open_ms", "ms"),
    # the search run's merge_s and mixed_search_p50_ms
    ("merge.segments_in", "count"), ("merge.segments_out", "count"),
    ("merge.bytes_rewritten", "B"),
    # sql-ops p50_ms and throughput_per_s
    ("ops.jobs_per_pass", "count"),
    # context only
    ("spark.job_floor_ms", "ms"), ("host.spin_mops", "Mops/s"),
]
# Layers a workload does not reach report zero work.
ZERO_IF_ABSENT = ("merge.", "ops.")


def run_env(work):
    """Environment of a benchmark JVM: the engine's work dir and Spark's
    scratch dirs inside `work`, never in the source tree."""
    return dict(os.environ, GRAFT_WORK_DIR=os.path.abspath(work + "/graftwork"),
                SPARK_LOCAL_DIRS=os.path.abspath(work + "/spark-local"))


def run_args(work, sf):
    return ["--work", work + "/graftwork", "--out", work + "/out", "--sf", sf]


def sf_dir():
    """The fixed tables of the sql-ops workload: generated once at seed 42,
    read-only, never regenerated; TESTDATA.md names their directory."""
    try:
        with open("TESTDATA.md") as f:
            m = re.search(r"`([^`]*sf0\.1)/?`", f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: sql-ops needs the sf0.1 tables TESTDATA.md names")
    return m.group(1)


def driver_heap():
    """The repo's test-command formula: half the host's memory, clamped to
    2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_ticks():
    """The host's aggregate CPU tick counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: context for a run whose times stand out."""
    if not before or not after:
        return float("nan")
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout} s; log in {log_path}")


def class_archives(jar, heap):
    """Class-data-sharing archives beside the build's jar, one per
    workload, each recorded by one unmeasured training run of its workload
    the first time the build is used; every measured run then starts from
    the same archive. Returns {workload: archive} for those that exist."""
    out = {}
    for w in WORKLOADS:
        jsa = os.path.join(os.path.dirname(jar), w + ".jsa")
        if not os.path.exists(jsa):
            try:
                sf = sf_dir() if w == "sql-ops" else ""
            except SystemExit:
                continue
            cmd = build.java_cmd(heap, jar, ["-XX:ArchiveClassesAtExit=" + jsa]) + [
                "--workload", w, "--seed", "0", "--seconds", "0", "--trace", "0"] + run_args(WORK, sf)
            if run_jvm(cmd, run_env(WORK), ".bench_build/train.log", JVM_TIMEOUT_S) != 0:
                if os.path.exists(jsa):
                    os.remove(jsa)
                sys.stderr.write(tail_of(".bench_build/train.log"))
                raise SystemExit("perfbench: training run failed; log in .bench_build/train.log")
        if os.path.exists(jsa):
            out[w] = jsa
    return out


def tail_of(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def oracle_compare(sf, out_dir, names):
    """The DuckDB compare of tools/verify_local.py over the last pass's
    operator outputs: (operators checked, failure lines)."""
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    p = subprocess.run([sys.executable, "tools/verify_local.py", sf, out_dir] + names,
                       capture_output=True, text=True, timeout=60)
    lines = p.stdout.splitlines()
    ok = {l.split(":")[0] for l in lines if ": ok (" in l}
    bad = [l for l in lines if ":" in l and not l.startswith("==") and ": ok (" not in l]
    missing = [n for n in oracles if n not in ok and not any(b.startswith(n + ":") for b in bad)]
    bad += [f"{n}: not compared" for n in missing]
    if p.returncode not in (0, 1):
        bad.append(f"verify_local.py exited {p.returncode}: {p.stderr[-500:]}")
    return len(oracles), bad


def phase_reqs(res, phase, kinds=None):
    return [r for r in res["reqs"] if r[1] == phase and (kinds is None or r[0] in kinds)]


def ms(r):
    return (r[3] - r[2]) / 1e6


def rounds(res, client):
    """The phases of the measured rounds for `client` ("c1" or "c<nproc>"),
    one per round, in round order."""
    return sorted((p for p in res["windows"] if p.split("#")[0] == client),
                  key=lambda p: int(p.split("#")[1]))


def round_reqs(res, client, kind_prefix=""):
    """The requests of every measured round for `client`, optionally only
    the kinds starting with `kind_prefix`."""
    phases = set(rounds(res, client))
    return [r for r in res["reqs"] if r[1] in phases and r[0].startswith(kind_prefix)]


def by_kind_ms(reqs):
    """Latencies in ms grouped by request kind: one group per query on
    search (kind <label>.q<qid>), per operator on sql-ops."""
    out = {}
    for r in reqs:
        out.setdefault(r[0], []).append(ms(r))
    return out


def rounds_rate(res, client):
    """The closed-loop rate of `client` over every measured round: the
    work of all rounds over their summed windows."""
    return stats.pooled_rate([stats.closed_loop([(r[2], r[3], r[4], r[5])
                                                 for r in phase_reqs(res, p)],
                                                tuple(res["windows"][p]))
                              for p in rounds(res, client)])


def end_to_end(w, res):
    """The contract metrics over the measured rounds. p50_ms on search is
    the median over the queries of each query's median latency across the
    rounds; on sql-ops it is the pass wall made of each operator's median
    across the passes, so every operator counts in it. throughput_per_s is
    the rate over all rounds (search: nproc clients; sql-ops: operators/s),
    which reads steadier from run to run than the median round's rate."""
    if w == "search":
        p50 = stats.median_of_medians(by_kind_ms(round_reqs(res, "c1")))
        rate = rounds_rate(res, f"c{res['env']['nproc']}")
    else:
        p50 = stats.sum_of_medians(by_kind_ms(round_reqs(res, "c1")))
        rate = rounds_rate(res, "c1")
    return {"setup_s": stats.median(res["setup_s"]), "p50_ms": p50,
            "throughput_per_s": rate, "peak_heap_mb": max(res["heap_mb"])}


def workload_table(w, res, e2e):
    """The workload's own end-to-end metrics, by name and unit."""
    rows = []

    def lat(name, xs):
        rows.append((f"{name}_p50_ms", stats.median(xs), "ms"))
        t = stats.tail(xs)
        if t:
            rows.append((f"{name}_p{t[0]}_ms", t[1], f"ms (n={len(xs)})"))
        else:
            rows.append((f"{name}_tail_ms", max(xs), f"ms (max; n={len(xs)} < 11)"))

    rows.append(("build_docs_per_s", stats.median(res["build_docs_per_s"]),
                 f"docs/s (median of {len(res['build_docs_per_s'])} set-up builds)"))
    nrounds = len(rounds(res, "c1"))
    if w == "search":
        for kind in ("scored", "bool"):
            lat(kind, [ms(r) for r in round_reqs(res, "c1", kind + ".")])
        rows.append(("search_qps", e2e["throughput_per_s"],
                     f"1/s ({res['env']['nproc']} clients, over {nrounds} rounds)"))
        ingest = stats.closed_loop([(r[2], r[3], r[4], r[5]) for r in phase_reqs(res, "ingest")],
                                   tuple(res["windows"]["ingest"]))
        rows.append(("ingest_docs_per_s", ingest["rate"], "docs/s (commits + fresh-engine queries)"))
        rows.append(("commit_p50_ms", stats.median(
            [ms(r) for r in phase_reqs(res, "ingest", {"commit"})]), "ms"))
        lat("mixed_search", [ms(r) for r in phase_reqs(res, "ingest", {"mixed_search"})])
    if w == "sql-ops":
        ops = by_kind_ms(round_reqs(res, "c1"))
        passes = min(len(v) for v in ops.values())
        rows.append(("ops_total_s", e2e["p50_ms"] / 1e3,
                     f"s (sum of per-operator medians; {passes} passes in {nrounds} rounds)"))
        for name in sorted(ops):
            rows.append((f"ops.{name}_s", stats.median(ops[name]) / 1e3, "s (median)"))
    for k, (v, u) in ((k, (f["value"], f["unit"])) for k, f in res["facts"].items()):
        rows.append((k, v, u))
    rows += [("setup_s", e2e["setup_s"], f"s (median of {len(res['setup_s'])})"),
             ("peak_heap_mb", e2e["peak_heap_mb"], "MB")]
    return rows


def per_layer(res):
    got = res["layers"]
    out = {}
    for name, unit in PER_LAYER:
        v = got.get(name, {}).get("value")
        if v is None and name.startswith(ZERO_IF_ABSENT):
            v = 0.0
        if v is None:
            raise SystemExit(f"perfbench: traced run did not measure {name}")
        out[name] = v
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(no src/main/scala here)")
    sf = sf_dir() if a.workload == "sql-ops" else ""
    os.makedirs(".bench_build", exist_ok=True)
    with open(".bench_build/build.log", "a") as blog:
        try:
            jar = build.ensure(blog)
        except subprocess.CalledProcessError:
            sys.stderr.write(tail_of(".bench_build/build.log"))
            raise SystemExit("perfbench: build failed; log in .bench_build/build.log")

    heap = driver_heap()
    archives = class_archives(jar, heap)
    cds = [f"-XX:SharedArchiveFile={archives[a.workload]}"] if a.workload in archives else []
    out = WORK + "/out"
    cmd = build.java_cmd(heap, jar, cds) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)] + run_args(WORK, sf)
    log_path = ".bench_build/run.log"
    t0, ticks0 = time.monotonic(), cpu_ticks()
    rc = run_jvm(cmd, run_env(WORK), log_path, JVM_TIMEOUT_S)
    steal = steal_share(ticks0, cpu_ticks())
    if rc != 0:
        sys.stderr.write(tail_of(log_path))
        raise SystemExit(f"perfbench: JVM exited {rc}; log in {log_path}")
    res = json.load(open(out + "/result.json"))

    checks, failures = res["checks"], list(res["failures"])
    if a.workload == "sql-ops":
        names = sorted({r[0] for r in res["reqs"]})
        n, bad = oracle_compare(sf, out + "/ops", names)
        checks += n
        failures += bad
    attempted = len(res["reqs"]) + checks
    failed = sum(1 for r in res["reqs"] if not r[4]) + len(failures)
    e2e = end_to_end(a.workload, res)

    env = res["env"]
    print(f"# graft perfbench  workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace}")
    print(f"# env: nproc={env['nproc']} driver_heap={heap} (max {env['max_heap_mb']:.0f} MB) "
          f"jvm={env['jvm']} spark={env['spark']} wall={time.monotonic() - t0:.1f}s "
          f"cpu_steal={steal:.1%}")
    for k, v in res["notes"].items():
        print(f"# path: {k} = {v}")
    for name, v, unit in workload_table(a.workload, res, e2e):
        print(f"  {name:<34} {v:14.4f} {unit}")
    print(f"  {'error_rate':<34} {stats.error_rate(failed, attempted):14.4f} "
          f"({failed} of {attempted} operations and checks)")
    for f in (res["errors"] + failures)[:20]:
        print(f"  FAILED: {f}")

    last_path = f".bench_build/last-untraced-{a.workload}.json"
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for (k, u), v in
                   zip(PER_LAYER, per_layer(res).values())}
        print("# per-layer (replayed on this workload's data after the rounds)")
        for k, f in res["layers"].items():
            print(f"  {k:<34} {f['value']:14.4f} {f['unit']}")
        spans = res["spans"]
        print(f"# self time by span ({len(spans)} spans)")
        for name, ns in sorted(stats.self_times(spans).items(), key=lambda x: -x[1]):
            print(f"  {name:<34} {ns / 1e6:14.2f} ms")
        if os.path.exists(last_path):
            base = json.load(open(last_path))
            print("# tracing overhead vs the last untraced run of this workload")
            for k, _ in END_TO_END:
                print(f"  {k:<34} {e2e[k] / base[k] - 1:+14.2%}  "
                      f"({e2e[k]:.4f} traced vs {base[k]:.4f})")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        json.dump(e2e, open(last_path, "w"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
