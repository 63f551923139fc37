#!/usr/bin/env python3
"""The repository's benchmark: seeded workloads against the graft library.

    python3 perfbench/run.py --workload nightly_build --seed 1 --seconds 30 --trace 0

Run it from the repository root. The first run builds the library and the
benchmark's JVM side with sbt (`perfbench/build.sbt`); later runs reuse the
build until a source changes. Every run starts from an empty scratch
directory (`perfbench/.work`), makes its inputs from the seed, starts one
fresh JVM, checks every answer, and prints one JSON object as its last line:
`{"correct", "attempted", "failed", "metrics"}`. Lines before it report each
metric under its workload's own name (`build_s`, `serve_p50_s`, ...), with
its unit and sample count, plus the host and JVM settings of the run.

Workloads (BENCHMARK.json lists the first two and why each exists):
  nightly_build    one cold full-DAG build (`Dag.fullBuild`, 45 manifest rows)
                   in a fresh JVM, timed to a collect that reads every model
                   column; the manifest must equal DuckDB's `Dag.oracle`.
  dashboard_serve  a long-lived session answers registry queries: each answer
                   is checked against DuckDB once, then two closed-loop client
                   threads send a seeded Zipf-skewed mix, and every answer's
                   full-column checksum must equal the checked one.
  sync_refresh     a long-lived session runs cron cycles: land a seeded events
                   drop, `IncrementalSync.syncOnce` it with a persistent
                   checkpoint, refresh two marts over the synced table, and
                   check table and marts against DuckDB over the cumulative
                   drops. It reports `correct: false` on this library: the
                   CacheScope-staged `scd2` mart goes stale once the synced
                   table changes (CacheScope keys on the plan, not on the
                   files), so it is not a workload BENCHMARK.json lists.

End-to-end metrics: `setup_s` is the run's one session set-up, in the cold
JVM; `peak_heap_mb` is the largest heap use right after a garbage collection
(the heap is fixed at JVM_HEAP, so the process RSS would report the heap size).
`op_p50_s` is the build, or the median request or cycle; `op_cpu_s` is the
process CPU of the build, or per request or cycle; `rows_per_s` is the rows
the build or the requests answered, or the drop rows synced, per second.

`--trace 0` reports the end-to-end metrics with no listener attached.
`--trace 1` is a separate run that records spans around the calls into each
layer plus Spark job/stage and micro-batch spans, and reports the per-layer
metrics, self time per layer, the traced operation's wall time
(`trace.op_s`; its gap to the untraced run's `op_p50_s` on the same seed is
the tracing overhead) and the time spent inside the listeners. In
`sync_refresh` the traced run alternates traced and untraced cycles and also
prints the gap it measured; in `dashboard_serve` every request of the traced
run is traced. The spans go to `perfbench/.work/trace.json`.

Self-tests of the benchmark: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import argparse
import collections
import hashlib
import json
import os
import random
import select
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP_DIR = os.path.join(HERE, "target", "perfbench")
sys.path.insert(0, HERE)
import fixture  # noqa: E402
import oracle  # noqa: E402

SF = 0.01            # fixture scale: 60k lineitem rows, 10k events
WARMUP_CYCLES = 4    # sync_refresh cycles after the initial load left unmeasured
MIN_CYCLES = 7       # sync_refresh cycles measured per run, at least
MAX_CYCLES = 30      # drops generated per run
RUN_DEADLINE_S = 170  # a run that has not finished by then is killed, no result
# a fixed-size heap, well above the live data, and a fixed young generation,
# so that the collector's sizing decisions, and with them the points at which
# peak_heap_mb is sampled, do not change from run to run
JVM_HEAP, JVM_YOUNG = "3g", "512m"

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = ["setup_s", "op_p50_s", "op_cpu_s", "peak_heap_mb", "rows_per_s"]
UNITS = {"setup_s": "s", "op_p50_s": "s", "op_cpu_s": "s", "peak_heap_mb": "MB",
         "rows_per_s": "1/s"}

PER_LAYER = [
    "models.construct_s", "models.construct_jobs",
    "operators.construct_s", "operators.construct_jobs",
    "plans.plan_s", "plans.exchanges", "plans.scans", "plans.reused_exchanges",
    "plans.topk_nodes",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_cpu_s",
    "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.peak_exec_mem_bytes", "exec.parallelism",
    "sources.input_bytes", "sources.input_records",
    "cachescope.registrations", "cachescope.cached_mem_bytes", "cachescope.staged_disk_bytes",
    "jvm.jit_s", "jvm.codegen_s",
]
# only sync_refresh, which BENCHMARK.json does not list, has a streaming layer
STREAMING_LAYER = [
    "streaming.sync_s", "streaming.micro_batches", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.query_planning_s",
    "streaming.write_amp", "streaming.buckets_rewritten",
]
# span name -> layer whose self time it counts toward
SPAN_LAYER = {"op": "op", "land": "land", "verify": "verify", "build": "bench", "request": "bench",
              "refresh.cycle": "bench", "models.construct": "models",
              "operators.construct": "operators", "plans.plan": "plans",
              "exec.action": "exec", "streaming.sync": "streaming",
              "streaming.batch": "micro_batch", "spark.job": "jobs", "spark.stage": "stages"}
SELF_LAYERS = ["bench", "exec", "jobs", "models", "operators", "plans", "stages"]
STREAMING_SELF_LAYERS = ["land", "micro_batch", "op", "streaming", "verify"]
TRACE_METRICS = ["trace.op_s", "trace.listener_s"]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("exec.parallelism", "streaming.write_amp"):
        return "ratio"
    return "count"


class RunError(Exception):
    pass


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- build

def _sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile with sbt unless the sources match the last build. Returns the
    JVM classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "scripts", "gen_fixture.py")):
        if not os.path.exists(need):
            raise RunError(f"not a checkout of the repository: {need} is missing")
    digest = hashlib.sha256()
    for path in _sources():
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp, cp_file = os.path.join(STAMP_DIR, "stamp"), os.path.join(STAMP_DIR, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    out = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=HERE, env=env,
                         stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise RunError("sbt build failed")
    os.makedirs(STAMP_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return lines[-1].strip()


# ---------------------------------------------------------------- JVM

class Jvm:
    """The benchmark's JVM (graft.bench.BenchMain), one command per line."""

    def __init__(self, classpath, data, cpus, deadline, work=WORK):
        self.deadline = deadline
        # -UsePerfData: no hsperfdata file outside the checkout
        self.flags = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:-UsePerfData",
                      "-Dspark.ui.enabled=false",
                      "-Dspark.sql.session.timeZone=UTC",
                      "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
        self.flags += [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.log = open(os.path.join(work, "jvm.log"), "w")
        self.proc = subprocess.Popen(
            ["java"] + self.flags + ["-cp", classpath, "graft.bench.BenchMain", work, data,
                                     str(cpus)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True, bufsize=1)

    def call(self, cmd):
        """Send one command; return its reply. A reply with `error` (the
        library threw) raises OpFailed; a dead or late JVM raises RunError."""
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        while True:
            left = self.deadline - time.monotonic()
            if left <= 0 or not select.select([self.proc.stdout], [], [], left)[0]:
                raise RunError(f"'{cmd}' did not finish before the run deadline")
            line = self.proc.stdout.readline()
            if not line:
                raise RunError(f"JVM exited during '{cmd}' (see {self.log.name})")
            if line.startswith("@@ "):
                reply = json.loads(line[3:])
                if "error" in reply:
                    raise OpFailed(reply["error"])
                return reply

    def close(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("exit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


class OpFailed(Exception):
    pass


# ---------------------------------------------------------------- workloads

def nightly_build(jvm, data, seed, seconds, trace, rec):
    """One cold build in the fresh JVM; it takes longer than `seconds`."""
    jvm.call("oracles " + os.path.join(WORK, "oracles.json"))
    expected = oracle.dag_manifest(data, json.load(open(os.path.join(WORK, "oracles.json"))))
    rec.attempted += 1
    try:
        r = jvm.call(f"build {trace}")
    except OpFailed as e:
        rec.fail(f"build: {e}")
        return
    problems = []
    if r["pruned"]:
        problems.append(f"timed plan does not scan {r['pruned']}")
    if r["unread"]:
        problems.append(f"timed plan does not read model columns {r['unread']}")
    got = sorted(tuple(row) for row in r["manifest"])
    if got != expected:
        bad = sorted(set(got) ^ set(expected))
        problems.append(f"manifest differs from Dag.oracle in {len(bad)} rows: {bad[:4]}")
    if problems:
        rec.fail("build: " + "; ".join(problems))
    rec.ops.append({"i": 0, "traced": bool(trace), "op_s": r["op_s"], "cpu_s": r["cpu_s"],
                    "layers": r.get("layers"), "spans": r.get("spans", [])})
    rec.lines.append(f"full-column checksum of the models = {r['full_checksum']}")
    rec.report("build_s", r["op_s"], "s", 1)
    rec.report("build_cpu_s", r["cpu_s"], "s", 1)
    rec.metrics.update(op_p50_s=r["op_s"], op_cpu_s=r["cpu_s"],
                       rows_per_s=r["rows_out"] / r["op_s"])


def sync_refresh(jvm, data, seed, seconds, trace, rec):
    """Cron cycles in one session: the initial load and WARMUP_CYCLES drops,
    then measured cycles until `seconds` have passed and at least MIN_CYCLES
    were measured. A traced run alternates traced and untraced cycles."""
    drops = fixture.make_drops(data, os.path.join(WORK, "drops"), seed, MAX_CYCLES)
    jvm.call("oracles " + os.path.join(WORK, "oracles.json"))
    check = oracle.RefreshCheck(json.load(open(os.path.join(WORK, "oracles.json")))["scd2_merge"],
                                os.path.join(WORK, "refresh"))
    src = os.path.join(WORK, "refresh", "src")
    start = None
    for k, drop in enumerate(drops):
        if start is not None and len(rec.ops) >= MIN_CYCLES and time.monotonic() - start >= seconds:
            break
        traced = trace and k % 2 == 1
        cutoff = "1970-01-01" if k == 0 else fixture.cycle_day(k)
        rows, size = oracle.rows_in(drop), os.path.getsize(drop)
        rec.attempted += 1
        t0 = time.monotonic()
        us0 = time.time_ns() // 1000
        os.makedirs(src, exist_ok=True)
        landed = os.path.join(src, os.path.basename(drop))
        shutil.copyfile(drop, landed + ".tmp")
        os.replace(landed + ".tmp", landed)
        us1 = time.time_ns() // 1000
        try:
            r = jvm.call(f"cycle {int(traced)} {cutoff} {size}")
        except OpFailed as e:
            rec.fail(f"cycle {k}: {e}")
            r = None
        us2 = time.time_ns() // 1000
        if r is not None:
            problems = check.cycle(drop, cutoff)
            if problems:
                rec.fail(f"cycle {k}: " + "; ".join(problems))
        op_s = time.monotonic() - t0
        # the initial load and the first cycles after it warm the JVM up
        if k == WARMUP_CYCLES:
            start = time.monotonic()
        elif k > WARMUP_CYCLES and r is not None:
            spans = [[-3 * k - 1, 0, "op", us0, time.time_ns() // 1000],
                     [-3 * k - 2, -3 * k - 1, "land", us0, us1],
                     [-3 * k - 3, -3 * k - 1, "verify", us2, time.time_ns() // 1000]]
            for s in r.get("spans", []):
                spans.append(s if s[1] != 0 else [s[0], -3 * k - 1] + s[2:])
            rec.ops.append({"i": k, "traced": traced, "op_s": op_s,
                            "cpu_s": r["cpu_s"], "rows": rows, "sync_s": r["sync_s"],
                            "layers": r.get("layers"), "spans": spans})
    measured = [o for o in rec.ops if not o["traced"]]
    if measured:
        p50 = statistics.median(o["op_s"] for o in measured)
        cpu = statistics.median(o["cpu_s"] for o in measured)
        rate = sum(o["rows"] for o in measured) / sum(o["sync_s"] for o in measured)
        rec.report("refresh_p50_s", p50, "s", len(measured))
        rec.report("upsert_rows_per_s", rate, "1/s", len(measured))
        rec.metrics.update(op_p50_s=p50, op_cpu_s=cpu, rows_per_s=rate)
    if trace and measured:
        t = statistics.median(o["op_s"] for o in rec.ops if o["traced"])
        rec.lines.append(f"tracing overhead in this run = {t / p50 - 1:+.2%} (traced cycles "
                         f"{t:.4g} s against untraced {p50:.4g} s)")


# dashboard_serve requests: registry entries of each serve shape, marts
# (fct_*, dim_*), intermediate and staging models (int_*, stg_*) and the
# page-side pivot, melt, top-k and window entries, in popularity order: the
# mix asks for SERVE_QUERIES[r] in proportion to 1 / (r + 1) ** ZIPF_S. Every
# entry is verified against DuckDB at the start of a run, about 1.5 s each,
# so the list is kept short.
SERVE_QUERIES = [
    "fct_sales_monthly", "fct_stock_prices", "dim_users", "fct_issues", "fct_hn_keyword_trends",
    "fct_fda_events_by_product", "int_fda_reactions", "int_hn_keywords", "stg_rename",
    "stg_unit_convert", "pivot_assignee", "melt_scores", "topk_nlargest", "win_topk_group",
]
ZIPF_S = 1.0
SERVE_CLIENTS = 2      # closed-loop client threads
BLOCK = 30             # requests a block of the mix holds; a run answers whole blocks
MIX_BLOCKS = 100       # blocks drawn per run, more than a run sends


def serve_mix(seed):
    """MIX_BLOCKS blocks of BLOCK requests. Every block holds each query as
    often as its Zipf share of BLOCK (largest remainders round; at BLOCK 30
    each query is asked at least once); the seed shuffles each block. So
    runs on other seeds send the same requests in another order."""
    weights = [1 / (r + 1) ** ZIPF_S for r in range(len(SERVE_QUERIES))]
    shares = [BLOCK * w / sum(weights) for w in weights]
    counts = [int(x) for x in shares]
    for r in sorted(range(len(shares)), key=lambda r: counts[r] - shares[r])[:BLOCK - sum(counts)]:
        counts[r] += 1
    block = [q for q, c in zip(SERVE_QUERIES, counts) for _ in range(c)]
    rng = random.Random(seed)
    mix = []
    for _ in range(MIX_BLOCKS):
        rng.shuffle(block)
        mix += block
    return mix


def dashboard_serve(jvm, data, seed, seconds, trace, rec):
    """Every query's answer is computed once, from as many threads as
    there are cores, and checked against DuckDB (which also warms the
    session up); then SERVE_CLIENTS closed-loop clients send the seeded mix
    for `seconds`, rounded up to whole blocks, and each answer's full-column
    checksum must equal the verified one."""
    jvm.call(f"oracles {os.path.join(WORK, 'oracles.json')} " + " ".join(SERVE_QUERIES))
    sqls = json.load(open(os.path.join(WORK, "oracles.json")))
    verified, t0 = {}, time.monotonic()
    answers = os.path.join(WORK, "answers")
    got = jvm.call(f"answers {answers} {len(os.sched_getaffinity(0))} " + " ".join(SERVE_QUERIES))
    for name in SERVE_QUERIES:
        rec.attempted += 1
        r = got[name]
        if "error" in r:
            rec.fail(f"answer {name}: {r['error']}")
            continue
        why = oracle.answer_problems(data, sqls[name], os.path.join(answers, name))
        if r["pruned"]:
            why = f"checksum plan does not scan {r['pruned']}"
        if why:
            rec.fail(f"answer {name} differs from DuckDB: {why}")
        else:
            verified[name] = (r["rows"], r["checksum"])
    rec.lines.append(f"{len(verified)} of {len(SERVE_QUERIES)} answers verified against DuckDB "
                     f"in {time.monotonic() - t0:.1f} s")
    mix_file = os.path.join(WORK, "mix.txt")
    with open(mix_file, "w") as f:
        f.write("\n".join(serve_mix(seed)) + "\n")
    r = jvm.call(f"serve {mix_file} {seconds} {BLOCK} {SERVE_CLIENTS} {trace}")
    lat = []
    for name, start, end, rows, checksum, error in r["requests"]:
        rec.attempted += 1
        lat.append((end - start) / 1e6)
        if error:
            rec.fail(f"request {name}: {error}")
        elif name not in verified:
            rec.fail(f"request {name}: no verified answer to compare with")
        elif (rows, checksum) != verified[name]:
            rec.fail(f"request {name}: {rows} rows, checksum {checksum}, "
                     f"verified {verified[name]}")
    n = len(lat)
    p50 = statistics.median(lat)
    p90 = statistics.quantiles(lat, n=10)[-1]
    rec.report("serve_p50_s", p50, "s", n)
    rec.report("serve_p90_s", p90, "s", n)
    rec.report("serve_qps", n / r["wall_s"], "1/s", n)
    rec.lines.append("requests per query: " + json.dumps(
        {q: c for q, c in sorted(collections.Counter(x[0] for x in r["requests"]).items())}))
    rec.metrics.update(op_p50_s=p50, op_cpu_s=r["cpu_s"] / n,
                       rows_per_s=sum(x[3] for x in r["requests"]) / r["wall_s"])
    if trace:
        root = {}
        parent = {s[0]: s[1] for s in r["spans"]}
        for s in r["spans"]:
            top = s[0]
            while parent.get(top, 0) != 0:
                top = parent[top]
            root.setdefault(top, []).append(s)
        for i, (op, req, layers) in enumerate(zip(r["ops"], r["requests"], r["layers"])):
            rec.ops.append({"i": i, "traced": True, "op_s": (req[2] - req[1]) / 1e6,
                            "cpu_s": r["cpu_s"] / n, "layers": layers,
                            "spans": root.get(op, [])})


WORKLOADS = {"nightly_build": nightly_build, "dashboard_serve": dashboard_serve,
             "sync_refresh": sync_refresh}


# ---------------------------------------------------------------- results

class Record:
    def __init__(self):
        self.attempted = self.failed = 0
        self.failures, self.ops, self.lines = [], [], []
        self.metrics = {}

    def fail(self, why):
        self.failed += 1
        self.failures.append(why)

    def report(self, name, value, unit, n):
        self.lines.append(f"{name} = {value:.6g} {unit} (n={n})")


def self_times(spans):
    """Self time per layer: a span's duration minus the part of it its
    children cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for sid, parent, name, start, end in spans:
        cover, cur = 0, None
        for _, _, _, cs, ce in sorted(kids.get(sid, []), key=lambda c: c[3]):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur is None or cs > cur[1]:
                if cur:
                    cover += cur[1] - cur[0]
                cur = [cs, ce]
            else:
                cur[1] = max(cur[1], ce)
        if cur:
            cover += cur[1] - cur[0]
        layer = SPAN_LAYER.get(name, name)
        out[layer] = out.get(layer, 0.0) + (end - start - cover) / 1e6
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build()
    except (RunError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: {e}")
    deadline = time.monotonic() + RUN_DEADLINE_S
    # a killed run can leave anything behind, graft_staging dirs included
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cpus = len(os.sched_getaffinity(0))
    load0, steal0 = open("/proc/loadavg").read().split()[:3], steal_s()

    data = fixture.make_fixture(os.path.join(WORK, "fixture"), args.seed, SF)
    rec = Record()
    jvm = Jvm(classpath, data, cpus, deadline)
    try:
        # the one set-up a user pays: the first, in a cold JVM
        first = jvm.call("setup")
        WORKLOADS[args.workload](jvm, data, args.seed, args.seconds, args.trace, rec)
        heap = jvm.call("memory")["peak_heap_mb"]
    except (RunError, OpFailed) as e:
        sys.exit(f"perfbench: {e}")
    finally:
        jvm.close()

    rec.metrics["setup_s"] = first["setup_s"]
    rec.metrics["peak_heap_mb"] = heap
    missing = [n for n in END_TO_END if n not in rec.metrics]
    if missing:
        rec.fail(f"no value for {missing}")
    rec.report("setup_s", rec.metrics["setup_s"], "s", 1)
    rec.report("peak_heap_mb", heap, "MB", 1)
    rec.report("failed_ratio", rec.failed / max(1, rec.attempted), "ratio", rec.attempted)
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "sf": SF, "nproc": cpus, "loadavg_start": load0,
           "loadavg_end": open("/proc/loadavg").read().split()[:3],
           "steal_s": round(steal_s() - steal0, 2), "jvm_flags": jvm.flags,
           "spark_conf": first["spark_conf"]}
    print("# run " + json.dumps(env, sort_keys=True))
    for why in rec.failures:
        print("# FAILED " + why)
    for o in rec.ops:
        print(f"# op {o['i']}{' traced' if o['traced'] else ''}: {o['op_s']:.3f} s, "
              f"cpu {o['cpu_s']:.2f} s" + (f", sync {o['sync_s']:.3f} s" if "sync_s" in o else ""))
    for line in rec.lines:
        print("# " + line)

    if args.trace:
        traced = [o for o in rec.ops if o["traced"] and o["layers"]]
        streaming = args.workload == "sync_refresh"
        per_layer = PER_LAYER + (STREAMING_LAYER if streaming else [])
        self_layers = SELF_LAYERS + (STREAMING_SELF_LAYERS if streaming else [])
        metrics = {}
        for name in per_layer:
            vals = [o["layers"].get(name, 0.0) for o in traced]
            metrics[name] = statistics.median(vals) if vals else 0.0
        selfs = [self_times(o["spans"]) for o in traced]
        for layer in self_layers:
            vals = [s.get(layer, 0.0) for s in selfs]
            metrics[f"self.{layer}_s"] = statistics.median(vals) if vals else 0.0
            print(f"# self time {layer} = {metrics[f'self.{layer}_s']:.4g} s (n={len(vals)})")
        metrics["trace.op_s"] = statistics.median(o["op_s"] for o in traced) if traced else 0.0
        metrics["trace.listener_s"] = statistics.median(
            o["layers"]["trace.listener_s"] for o in traced) if traced else 0.0
        with open(os.path.join(WORK, "trace.json"), "w") as f:
            json.dump({"run": env, "spans": [s for o in traced for s in o["spans"]]}, f)
        names = per_layer + [f"self.{l}_s" for l in self_layers] + TRACE_METRICS
        out = {n: {"value": metrics[n], "unit": unit_of(n)} for n in names}
    else:
        out = {n: {"value": rec.metrics.get(n, 0.0), "unit": UNITS[n]} for n in END_TO_END}
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": out}))


if __name__ == "__main__":
    main()
