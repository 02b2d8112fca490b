#!/usr/bin/env python3
"""graft benchmark: full-result query latency on fixed key samples.

Run from the repository root:

    python3 perfbench/run.py --workload tabular-serial --seed 1 --seconds 18 --trace 0

A run builds graft and the JVM harness from source (once per checkout,
into .bench_build/), starts one JVM that sets the session up, runs one cold
pass over the workload's key sequence and then a fixed number of warm
passes (--seconds over the workload's nominal pass time), and sets the
session up twice more. Every query's result rows are folded into a digest
that must equal the checked-in digest for its key (perfbench/expected/).
--trace 1 runs the same loop with a SparkListener on the cold pass and every
other warm pass and reports the per-layer metrics instead of the end-to-end
ones.

Each metric is printed by name with its unit; the last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. Workloads, samples, session config and sizing are in
perfbench/config.json; perfbench/README.md explains them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CONFIG = os.path.join(HERE, "config.json")
RUN_BUDGET_S = 170  # a run (after the build) must end within 180 s
SETUPS = 3          # set-ups per run; setup_s is their median

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or spark_version(jars) is None:
        raise BenchError("no Spark distribution found (set SPARK_HOME)")
    return jars


def spark_version(jars):
    for name in os.listdir(jars):
        if name.startswith("spark-sql_2.13-") and name.endswith(".jar"):
            return name[len("spark-sql_2.13-"):-len(".jar")]
    return None


def sources():
    graft = []
    for d, _, files in os.walk(os.path.join(ROOT, "src", "main", "scala")):
        graft += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.endswith(os.path.join("graft", "Queries.scala")) for p in graft):
        raise BenchError("graft sources (src/main/scala/graft) not found; run from the repository root")
    harness = [os.path.join(HERE, "harness", f) for f in os.listdir(os.path.join(HERE, "harness"))
               if f.endswith(".scala")]
    return sorted(graft) + sorted(harness)


def build(jars):
    """Compile graft and the harness with the Scala compiler that ships in
    the Spark distribution; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256(spark_version(jars).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} Scala sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.perf_counter()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        raise BenchError("compilation failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.perf_counter() - t0:.1f} s")
    return classes


# ---------------------------------------------------------------- workload

def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def key_orders(wl, seed, cores, warm_passes, limit=None):
    """Key sequences per pass and client. Every pass runs the sample in the
    same cyclic order, on client c starting at key (seed + c * step); so a
    client's sequence over the run is one cycle, and the seed picks where it
    starts. A free permutation per seed would change which generated classes
    survive in Spark's codegen cache from one key to the next, which moved
    warm pass times by up to 20% between seeds."""
    clients = cores if wl["clients"] == "nproc" else int(wl["clients"])
    sample = list(wl["sample"])[:limit] if limit else list(wl["sample"])
    k = len(sample)
    step = max(1, k // clients)
    per_client = [sample[(seed + c * step) % k:] + sample[:(seed + c * step) % k] for c in range(clients)]
    return [per_client] * (warm_passes + 1)


# ---------------------------------------------------------------- JVM

class Jvm:
    """One harness JVM in a private directory (its own java.io.tmpdir,
    warehouse, Spark local dir and index store), removed afterwards."""

    def __init__(self, classpath, spec, deadline):
        self.dir = os.path.join(BUILD, "runs", uuid.uuid4().hex[:12])
        for sub in ("tmp", "warehouse", "local"):
            os.makedirs(os.path.join(self.dir, sub))
        self.spec = dict(spec, out=os.path.join(self.dir, "result.json"),
                         warehouse=os.path.join(self.dir, "warehouse"),
                         local_dir=os.path.join(self.dir, "local"))
        self.classpath = classpath
        self.deadline = deadline

    def run(self):
        spec_path = os.path.join(self.dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(self.spec, f)
        opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = ["java", *opens, "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", self.classpath, "perfbench.Harness", spec_path]
        env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(self.dir, "index"))
        err_path = os.path.join(self.dir, "stderr.log")
        try:
            with open(err_path, "w") as err:
                proc = subprocess.Popen(cmd, cwd=self.dir, env=env, stdout=err, stderr=err)
                try:
                    proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
                except subprocess.TimeoutExpired:
                    pass
                finally:
                    if proc.poll() is None:
                        proc.kill()
                        proc.wait()
            if proc.returncode != 0:
                with open(err_path) as f:
                    tail = f.read()[-3000:]
                raise BenchError(f"harness JVM exited with {proc.returncode}:\n{tail}")
            with open(self.spec["out"]) as f:
                return json.load(f)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile of xs with at least ten samples beyond it:
    (value, percentile, samples)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else float("nan")), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def check(result, expected):
    """Compare every digest with the expected table: (threw, mismatched)."""
    threw = mismatched = 0
    for q in result["queries"]:
        if "error" in q:
            threw += 1
            log(f"FAILED pass {q['pass']} client {q['client']} {q['key']}: {q['error']}")
        elif q["digest"] != expected[q["key"]]:
            mismatched += 1
            log(f"WRONG pass {q['pass']} client {q['client']} {q['key']}: digest {q['digest']}, "
                f"expected {expected[q['key']]}")
    return threw, mismatched


def end_to_end(result):
    passes = result["passes"]
    warm = [p for p in passes if p["pass"] > 0]
    lat = [(q["end"] - q["start"]) / 1000 for q in result["queries"] if q["pass"] > 0]
    tail_s, tail_pct, n = tail(lat)
    return {
        "setup_s": (median([s["total_ms"] / 1000 for s in result["setups"]]), "s"),
        "cold_pass_s": ((passes[0]["end"] - passes[0]["start"]) / 1000, "s"),
        "warm_pass_s": (median([(p["end"] - p["start"]) / 1000 for p in warm]), "s"),
        "query_p50_s": (median(lat), "s"),
        "query_tail_s": (tail_s, "s"),
        "retained_heap_mb": (result["retained_heap_bytes"] / 2**20, "MB"),
    }, {"query_tail_percentile": tail_pct, "query_tail_samples": n, "warm_passes": len(warm)}


def spans_of(result):
    """The span tree of a traced run: run -> setup, and run -> pass ->
    query(key, client) -> construct / plan / execute -> job -> stage, as a
    flat list with parents (ms since the harness started). Untraced passes
    appear as pass spans without children."""
    spans = []

    def add(name, start, end, parent, **attrs):
        spans.append(dict(id=len(spans), parent=parent, name=name, start=start, end=end, **attrs))
        return len(spans) - 1

    setups = result["setups"]
    run = add("run", min(s["start"] for s in setups), max(s["end"] for s in setups), None)
    for i, s in enumerate(setups):
        add("setup", s["start"], s["end"], run, jvm_start=(i == 0))
    phase_ids = {}
    for p in result["passes"]:
        pid = add("pass", p["start"], p["end"], run, pass_=p["pass"], traced=p["traced"])
        if not p["traced"]:
            continue
        for q in result["queries"]:
            if q["pass"] != p["pass"]:
                continue
            qid = add("query", q["start"], q["end"], pid, key=q["key"], client=q["client"])
            bounds = [q["start"], q.get("constructed"), q.get("planned"), q["end"]]
            for i, ph in enumerate(("construct", "plan", "execute")):
                a, b = bounds[i], bounds[i + 1]
                if a is not None and b is not None:  # a query that threw lacks later phases
                    phase_ids[f"{p['pass']}|{q['client']}|{q['key']}|{ph}"] = add(ph, a, b, qid)
    job_ids = {}
    for j in result["jobs"]:
        parent = phase_ids.get(j["tag"])
        if parent is not None and "end" in j:
            job_ids[j["job"]] = add("job", j["start"], j["end"], parent, job=j["job"])
    for s in result["stages"]:
        parent = job_ids.get(s["job"])
        if parent is not None:
            add("stage", s["start"], s["end"], parent, stage=s["stage"], tasks=s["tasks"])
    return spans


def self_times(spans):
    """Self time per span name: duration minus the part of it that its
    children cover, summed (ms)."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], [])]
        covered = union_ms([(a, b) for a, b in clipped if b > a])
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, (s["end"] - s["start"]) - covered)
    return out


def per_layer(result):
    passes = {p["pass"]: p for p in result["passes"]}
    traced_warm = [n for n, p in passes.items() if n > 0 and p["traced"]]
    bare_warm = [n for n, p in passes.items() if n > 0 and not p["traced"]]
    cores = result["cores"]
    qs = result["queries"]
    counters = result["counters"]

    def tag_sum(pass_no, field, phase=None):
        total = 0
        for tag, c in counters.items():
            parts = tag.split("|")
            if len(parts) == 4 and int(parts[0]) == pass_no and (phase is None or parts[3] == phase):
                total += c[field]
        return total

    def per_pass(fn):
        return median([fn(n) for n in traced_warm])

    def q_sum(n, fn):
        return sum(fn(q) for q in qs if q["pass"] == n and "error" not in q)

    def wall(n):
        return (passes[n]["end"] - passes[n]["start"]) / 1000

    def planning(n, phase):
        return q_sum(n, lambda q: q.get("planning_ms", {}).get(phase, 0)) / 1000

    def driver_gap(n):
        return q_sum(n, lambda q: (q["end"] - q["start"] - q.get("busy_ms", 0))) / 1000

    def tasks_per_stage(n):
        st = tag_sum(n, "stages")
        return tag_sum(n, "tasks") / st if st else 0.0

    spans = spans_of(result)
    span_self = {}
    for n in traced_warm:
        root = next(s["id"] for s in spans if s["name"] == "pass" and s["pass_"] == n)
        sub = [s for s in spans if s["id"] == root or _ancestor_in(s, root, spans)]
        for name, ms in self_times(sub).items():
            span_self.setdefault(name, []).append(ms / 1000)

    traced_walls = [wall(n) for n in traced_warm]
    bare_walls = [wall(n) for n in bare_warm]
    overhead = median(traced_walls) - median(bare_walls)
    # layer spans against untraced latency: per key, the traced
    # construct+plan+execute median against the bare query-latency median
    by_key_traced, by_key_bare = {}, {}
    for q in qs:
        if q["pass"] == 0 or "error" in q:
            continue
        k = (q["client"], q["key"])
        if passes[q["pass"]]["traced"]:
            layers = (q["constructed"] - q["start"]) + (q["planned"] - q["constructed"]) + (q["end"] - q["planned"])
            by_key_traced.setdefault(k, []).append(layers)
        else:
            by_key_bare.setdefault(k, []).append(q["end"] - q["start"])
    common = sorted(set(by_key_traced) & set(by_key_bare))
    t_sum = sum(median(by_key_traced[k]) for k in common)
    b_sum = sum(median(by_key_bare[k]) for k in common)
    within = [abs((q["end"] - q["start"]) - (q["outer_end"] - q["outer_start"])) / (q["outer_end"] - q["outer_start"])
              for q in qs if q["pass"] in traced_warm and "error" not in q]

    m = {
        "tables.register_s": (median([s["register_ms"] / 1000 for s in result["setups"]]), "s"),
        "scan.bytes_read": (per_pass(lambda n: tag_sum(n, "input_bytes")), "bytes"),
        "scan.records_read": (per_pass(lambda n: tag_sum(n, "input_records")), "count"),
        "ops.construct_s": (per_pass(lambda n: q_sum(n, lambda q: q["constructed"] - q["start"]) / 1000), "s"),
        "ops.construct_jobs": (per_pass(lambda n: tag_sum(n, "jobs", "construct")), "count"),
        "ops.cold_construct_s": (q_sum(0, lambda q: q["constructed"] - q["start"]) / 1000, "s"),
        "ops.cold_construct_jobs": (tag_sum(0, "jobs", "construct"), "count"),
        "plan.s": (per_pass(lambda n: q_sum(n, lambda q: q["planned"] - q["constructed"]) / 1000), "s"),
        "plan.analysis_s": (per_pass(lambda n: planning(n, "analysis")), "s"),
        "plan.optimizer_s": (per_pass(lambda n: planning(n, "optimization")), "s"),
        "plan.physical_s": (per_pass(lambda n: planning(n, "planning")), "s"),
        # whole run, cold pass included: warm passes compile nothing when the
        # codegen cache holds every class, and a time must not read 0 always
        "codegen.compile_s": (sum(p["codegen_ns"] for p in passes.values()) / 1e9, "s"),
        "codegen.classes": (sum(p["codegen_classes"] for p in passes.values()), "count"),
        "codegen.cold_compile_s": (passes[0]["codegen_ns"] / 1e9, "s"),
        "codegen.cold_classes": (passes[0]["codegen_classes"], "count"),
        "sched.jobs": (per_pass(lambda n: tag_sum(n, "jobs")), "count"),
        "sched.stages": (per_pass(lambda n: tag_sum(n, "stages")), "count"),
        "sched.tasks": (per_pass(lambda n: tag_sum(n, "tasks")), "count"),
        "sched.delay_s": (per_pass(lambda n: tag_sum(n, "sched_delay_ms") / 1000), "s"),
        "sched.driver_gap_s": (per_pass(driver_gap), "s"),
        "sched.core_util": (per_pass(lambda n: tag_sum(n, "task_run_ms") / 1000 / (cores * wall(n))), "ratio"),
        "exec.task_run_s": (per_pass(lambda n: tag_sum(n, "task_run_ms") / 1000), "s"),
        "exec.task_cpu_s": (per_pass(lambda n: tag_sum(n, "task_cpu_ns") / 1e9), "s"),
        "exec.gc_s": (per_pass(lambda n: tag_sum(n, "gc_ms") / 1000), "s"),
        "exec.deser_s": (per_pass(lambda n: tag_sum(n, "deser_ms") / 1000), "s"),
        "exec.tasks_per_stage": (per_pass(tasks_per_stage), "count"),
        "shuffle.write_bytes": (per_pass(lambda n: tag_sum(n, "shuffle_write_bytes")), "bytes"),
        "shuffle.read_bytes": (per_pass(lambda n: tag_sum(n, "shuffle_read_bytes")), "bytes"),
        "spill.bytes": (per_pass(lambda n: tag_sum(n, "spill_bytes")), "bytes"),
        "store.bytes_written": (per_pass(lambda n: tag_sum(n, "output_bytes")), "bytes"),
        "store.records_written": (per_pass(lambda n: tag_sum(n, "output_records")), "count"),
        "store.cold_bytes_written": (tag_sum(0, "output_bytes"), "bytes"),
        "store.cold_records_written": (tag_sum(0, "output_records"), "count"),
        "cache.persisted_rdds": (result["persisted_rdds_at_end"], "count"),
        "cache.conf_drift": (per_pass(lambda n: q_sum(n, lambda q: q.get("conf_drift", 0))), "count"),
        "jvm.gc_s": (per_pass(lambda n: passes[n]["gc_ms"] / 1000), "s"),
        "jvm.jit_s": (per_pass(lambda n: passes[n]["jit_ms"] / 1000), "s"),
        "jvm.cold_gc_s": (passes[0]["gc_ms"] / 1000, "s"),
        "jvm.cold_jit_s": (passes[0]["jit_ms"] / 1000, "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_share": (overhead / median(bare_walls), "ratio"),
        "trace.layers_vs_untraced": (t_sum / b_sum if b_sum else float("nan"), "ratio"),
        "trace.reconcile_max_share": (max(within) if within else float("nan"), "ratio"),
    }
    # a query span is exactly covered by its phases, so it has no self time
    for name in ("pass", "construct", "plan", "execute", "job", "stage"):
        m[f"self.{name}_s"] = (median(span_self.get(name, [])) if span_self.get(name) else 0.0, "s")
    return m, spans


def _ancestor_in(span, root, spans):
    p = span["parent"]
    while p is not None:
        if p == root:
            return True
        p = spans[p]["parent"]
    return False


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", default=None,
                    help="fixture name under perfbench/fixture (default: the config's)")
    ap.add_argument("--keys", type=int, default=None,
                    help="run only the first N keys of the sample (smoke test)")
    ap.add_argument("--unguarded", action="store_true",
                    help="let clients run one_at_a_time_keys at the same time (known-defect probe)")
    args = ap.parse_args()

    with open(CONFIG) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    fixture_name = args.fixture or cfg["fixture"]
    fixture = os.path.join(HERE, "fixture", fixture_name)
    with open(os.path.join(HERE, "expected", f"{fixture_name}.json")) as f:
        expected = json.load(f)["digests"]

    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + RUN_BUDGET_S
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    cores = nproc()
    # --seconds buys a whole number of warm passes at the workload's nominal
    # pass time, so parent and change measure the same work and the sample
    # count does not flip with a pass ending just before or after a deadline
    warm_passes = max(2, round(args.seconds / wl["nominal_pass_s"]))
    orders = key_orders(wl, args.seed, cores, warm_passes, args.keys)
    missing = sorted({k for p in orders for o in p for k in o} - set(expected))
    if missing:
        raise BenchError(f"no expected digest for {missing}")

    result = Jvm(classpath, {"mode": "run", "fixture": fixture, "cores": cores, "orders": orders,
                             "trace": bool(args.trace), "setups": SETUPS,
                             "one_at_a_time": [] if args.unguarded else cfg.get(wl.get("one_at_a_time"), [])},
                 deadline).run()

    attempted = len(result["queries"])
    threw, mismatched = check(result, expected)
    failed = threw + mismatched
    e2e, info = end_to_end(result)
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  clients {len(orders[0])}  "
          f"keys/client {len(orders[0][0])}  warm passes {info['warm_passes']}  fixture {fixture_name}")
    for name, (v, unit) in e2e.items():
        print(f"metric {name} = {v:.6g} {unit}")
    print(f"metric error_rate = {failed / attempted:.6g} ratio  "
          f"(threw {threw}, digest mismatches {mismatched}, of {attempted})")
    print("info pass walls (s): " + ", ".join(f"{(p['end'] - p['start']) / 1000:.2f}" for p in result["passes"]))
    print(f"info query_tail_s is p{info['query_tail_percentile']:.1f} of {info['query_tail_samples']} "
          f"warm query samples")
    print("info set-ups (s): first, from JVM start, " +
          ", then in the same JVM ".join(f"{s['total_ms'] / 1000:.3f}" for s in result["setups"]))
    if args.trace:
        metrics, spans = per_layer(result)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans,
                       "counters": result["counters"], "passes": result["passes"]}, f)
        for name, (v, unit) in metrics.items():
            print(f"metric {name} = {v:.6g} {unit}")
        print(f"info spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = e2e
    bad = sorted(k for k, (v, _) in metrics.items() if v != v)
    if bad:
        raise BenchError(f"no value for {bad}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    # on SIGTERM, unwind through Jvm.run's cleanup, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
