#!/usr/bin/env python3
"""graft's benchmark: a graph workload and a dedup corpus workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's child program from source (`perfbench/harness`, once per source
tree). Each run generates its workload's inputs from the seed (cached per
seed under `perfbench/.work`), starts one child JVM with `local[<cores>]`,
warms it with one untimed op of each kind, and then runs passes over the
workload's ops in a closed loop: one client, one op at a time. Every op's
output is checked outside its timed window; a crash, a wrong output or a
stopped SparkContext fails the op, and a dead child is replaced.

`--trace 0` reports the end-to-end metrics: the median seconds of each of
the workload's three op kinds (`op1_s`..`op3_s`, in the order of
WORKLOADS[...]["ops"]) and the set-up time (child launch to a warm
session). `--trace 1` alternates untraced and traced passes and reports the
per-layer metrics of the traced ops and the tracing overhead. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; every op, its check result
and its counts are printed above it and kept in
`perfbench/.work/runs/<run>/result.json` with the host load.
"""
import argparse
import hashlib
import json
import os
import queue
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")

HEAP = "6g"
OP_TIMEOUT_S = 120   # an op still running after this is killed and failed
RUN_LIMIT_S = 170    # wall budget of one run, not counting a build

# Input sizes, and the SSSP round counts the sources are picked for (see
# gen.pick_sources): sized so that one run of each workload, set-up
# included, takes about a minute on 4 cores.
GRID_N, ROAD_ROUNDS = 20, 22
ROAD_LONG_N = 128
SOCIAL_NODES, SOCIAL_EDGES, SOCIAL_TSV_EDGES, SOCIAL_ROUNDS = 4_000, 20_000, 240_000, 15
DOCS, SIG_DOCS = 1_500, 12_000
SIZES = (GRID_N, ROAD_ROUNDS, ROAD_LONG_N, SOCIAL_NODES, SOCIAL_EDGES, SOCIAL_TSV_EDGES,
         SOCIAL_ROUNDS, DOCS, SIG_DOCS)


def gen_graph(d, seed):
    os.makedirs(os.path.join(d, "road"))
    os.makedirs(os.path.join(d, "social"))
    return {"road": gen.road_grid(os.path.join(d, "road"), seed, GRID_N, ROAD_ROUNDS),
            "social": gen.social_graph(os.path.join(d, "social"), seed, SOCIAL_NODES, SOCIAL_EDGES,
                                       SOCIAL_TSV_EDGES, SOCIAL_ROUNDS)}


def gen_road_long(d, seed):
    os.makedirs(os.path.join(d, "road"))
    return {"road": gen.road_grid(os.path.join(d, "road"), seed, ROAD_LONG_N)}


def gen_docs(d, seed):
    return {"docs": gen.documents(d, seed, DOCS),
            "sig_docs": gen.documents(d, [seed, 1], SIG_DOCS, "signatures.parquet")}


# Each workload: its generator, its op kinds (reported as op1_s, op2_s and
# op3_s in this order), the untimed ops of set-up, the ops of one pass, and
# the seconds one pass takes on 4 cores. Set-up runs every kind once, and
# again the kinds whose times still fall steeply from one run to the next
# (the JIT is still compiling their code), so that the timed passes start
# nearer a steady state. A run makes round(--seconds / pass_s) passes, at
# least three: a fixed count, because a count that followed the clock would
# make the medians bimodal. Only a run on a host so slow that its passes
# overrun --seconds by a quarter makes fewer (see Runner.run). The
# signature op runs twice a pass: it is short, and its median rests on more
# samples that way.
WORKLOADS = {
    "graph": {
        "gen": gen_graph,
        "ops": ["road_sssp", "social_sssp", "reverse"],
        "warm": ["road_sssp", "social_sssp", "reverse"],
        "pass": ["road_sssp", "social_sssp", "reverse"],
        "pass_s": 6,
    },
    "dedup_docs": {
        "gen": gen_docs,
        "ops": ["clusters", "pairs", "minhash_sig"],
        "warm": ["clusters", "pairs", "minhash_sig", "clusters", "pairs"],
        "pass": ["clusters", "pairs", "minhash_sig", "minhash_sig"],
        "pass_s": 7,
    },
    # Not in BENCHMARK.json: the full-size grid, whose corner sources crash
    # the engine's round loop with a StackOverflowError after a few hundred
    # rounds. It stays runnable with the same command so the defect shows.
    "sssp_road_long": {
        "gen": gen_road_long,
        "ops": ["road_sssp", "road_sssp_far"],
        "warm": ["road_sssp"],  # a far op would end the run in set-up
        "pass": ["road_sssp", "road_sssp_far"],
        "pass_s": 60,
    },
}

# Per op kind: the child's entry point, the input it reads, and the seeded
# sources it cycles through (SSSP) or the oracle it is checked against.
KINDS = {
    "road_sssp": ("sssp", "road", "centre_sources"),
    "road_sssp_far": ("sssp", "road", "corner_sources"),
    "social_sssp": ("sssp", "social", "sources"),
    "reverse": ("reverse", "social", None),
    "clusters": ("clusters", "docs", "dedup_clusters"),
    "pairs": ("pairs", "docs", "dedup_prefix_jaccard"),
    "minhash_sig": ("minhash_sig", "sig_docs", "minhash_signatures"),
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: on a VM, time the host gave away."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + child once per source tree; returns the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    sql_file = os.path.join(WORK, "oracle_sql.json")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file) and os.path.exists(sql_file)):
        return open(cp_file).read().strip()
    log("building engine and harness (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}".strip()
    t0 = time.perf_counter()
    with open(os.path.join(WORK, "build.log"), "wb") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit(f"build failed (exit {r.returncode}); see {os.path.join(WORK, 'build.log')}")
    cp = open(cp_file).read().strip()
    subprocess.run(java_cmd(cp) + ["perfbench.Child", "oracle-sql", sql_file],
                   cwd=WORK, check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, timeout=120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return cp


def java_cmd(cp):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp]


# ---------------------------------------------------------------- inputs

def inputs(workload, seed, oracle_sql):
    """Generate (or reuse) the seed's inputs and the checks' references."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(SIZES).encode()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{workload}-{key}", f"seed-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
    else:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = WORKLOADS[workload]["gen"](d, seed)
        for data, m in meta.items():
            if "docs" in m:  # a corpus: the oracle tables of the ops that read it
                names = {o for _, k, o in KINDS.values() if k == data}
                m["oracle"] = check.oracle_tables(m["docs"], {n: oracle_sql[n] for n in names}, d)
        if "social" in meta:
            exp = os.path.join(d, "reverse.expected")
            with open(exp, "w") as f:
                f.write("\n".join(check.expected_reverse(meta["social"]["tsv"])))
            meta["social"]["reverse_expected"] = exp
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    for g in ("road", "social"):
        if g in meta:
            meta[g]["graph"] = check.Graph(os.path.join(os.path.dirname(meta[g]["edges"]), "edges.npz"))
    if "social" in meta:
        meta["social"]["reverse_lines"] = open(meta["social"]["reverse_expected"]).read().split("\n")
    return meta


# ---------------------------------------------------------------- child JVM

class ChildDied(Exception):
    pass


class OpTimeout(Exception):
    pass


class Child:
    """One child JVM holding one Spark session."""

    def __init__(self, cp, cores, log_path):
        self.log_path = log_path
        self.log = open(log_path, "wb")
        self.p = subprocess.Popen(
            java_cmd(cp) + ["perfbench.Child", "serve", str(cores), WORK],
            cwd=WORK, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log)
        self.q = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            line = line.decode("utf-8", "replace")
            if line.startswith("@@ "):
                self.q.put(json.loads(line[3:]))
        self.q.put(None)

    def reply(self, timeout):
        try:
            r = self.q.get(timeout=max(0.1, timeout))
        except queue.Empty:
            raise OpTimeout()
        if r is None:
            raise ChildDied()
        return r

    def send(self, fields):
        try:
            self.p.stdin.write(("\t".join(map(str, fields)) + "\n").encode())
            self.p.stdin.flush()
        except (BrokenPipeError, OSError):
            raise ChildDied()

    def last_error(self):
        """The last JVM error or exception class in the child's log."""
        self.log.flush()
        with open(self.log_path, errors="replace") as f:
            errs = re.findall(r"(java\.lang\.\w+(?:Error|Exception))", f.read()[-200_000:])
        return errs[-1] if errs else "no error logged"

    def death_cause(self):
        return f"{self.last_error()} (exit {self.p.wait(timeout=30)})"

    def close(self):
        if self.p.poll() is None:
            try:
                self.send(["quit"])
                self.p.wait(timeout=30)
            except (ChildDied, subprocess.TimeoutExpired):
                pass
        self.kill()

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.log.close()


# ---------------------------------------------------------------- the loop

class Runner:
    """Runs one workload's ops in a closed loop and keeps every record."""

    def __init__(self, workload, meta, cp, cores, deadline, run_dir):
        self.w = workload
        self.meta = meta
        self.cp = cp
        self.cores = cores
        self.deadline = deadline
        self.run_dir = run_dir
        self.ops = []          # one record per op run
        self.setups = []       # one record per child set-up
        self.restarts = []     # seconds per restart after a crash
        self.child = None
        self.n_child = 0
        self.seq = {}

    def _args(self, kind, out):
        entry, data, pick = KINDS[kind]
        m = self.meta[data]
        if entry == "sssp":
            i = self.seq.get(kind, 0)
            self.seq[kind] = i + 1
            return [m["edges"], out, m[pick][i % len(m[pick])]]
        if entry == "reverse":
            return [m["tsv"], out]
        return [m["docs"], out]

    def _check(self, kind, args, rec):
        entry, data, oracle = KINDS[kind]
        m = self.meta[data]
        if entry == "sssp":
            return check.check_sssp(args[1], m["graph"], args[2])
        if entry == "reverse":
            return check.check_reverse(args[1], m["reverse_lines"])
        err, rec["rows"], rec["dupes"] = check.check_table(args[1], m["oracle"][oracle])
        return err

    def start_child(self):
        """Launch a child and run the workload's untimed warm ops, so that
        no timed op is a kind's first; returns the set-up."""
        self.n_child += 1
        t0 = time.perf_counter()
        self.child = Child(self.cp, self.cores, os.path.join(self.run_dir, f"child{self.n_child}.log"))
        try:
            self.child.reply(self.deadline - time.perf_counter())
        except (ChildDied, OpTimeout):
            self.child.kill()
            self.child = None
            return {"ok": False}
        start_s = time.perf_counter() - t0
        warm_s = 0.0
        w = WORKLOADS[self.w]
        for kind in w["warm"]:
            warm_s += self.op(kind, traced=False, phase="warm").get("rt_s", 0.0)
            if self.child is None:
                return {"ok": False}
        return {"ok": True, "start_s": start_s, "warm_s": warm_s, "setup_s": start_s + warm_s}

    def op(self, kind, traced, phase, pass_no=None):
        """Run one op and check it; restart the child if it died."""
        op_id = len(self.ops) + 1
        out = os.path.join(self.run_dir, "out", str(op_id))
        args = self._args(kind, out)
        rec = {"id": op_id, "kind": kind, "phase": phase, "pass": pass_no, "traced": traced,
               "args": [x for x in args if x != out], "ok": False, "check": None}
        self.ops.append(rec)
        dead = False
        try:
            t0 = time.perf_counter()
            self.child.send(["op", op_id, KINDS[kind][0], int(traced)] + args)
            r = self.child.reply(min(OP_TIMEOUT_S, self.deadline - time.perf_counter()))
            rec.update(ok=r["ok"], wall_s=r["wall_s"], rt_s=time.perf_counter() - t0,
                       err=r["err"], msg=r["msg"], spans=r["spans"])
            if r["stopped"]:
                rec.update(ok=False, err=f"{self.child.last_error()} ({r['err']}, SparkContext stopped)")
                dead = True
        except OpTimeout:
            rec["err"] = "timeout"
            dead = True
        except ChildDied:
            rec["err"] = self.child.death_cause()
            dead = True
        if rec["ok"]:
            rec["check"] = self._check(kind, args, rec)
            if rec["check"]:
                rec.update(ok=False, err="wrong output")
        shutil.rmtree(out, ignore_errors=True)
        if dead:
            self.child.kill()
            self.child = None
            if phase == "timed" and time.perf_counter() < self.deadline - 30:
                t0 = time.perf_counter()
                self.start_child()
                self.restarts.append(time.perf_counter() - t0)
        return rec

    def run(self, seconds, trace):
        """One child: set-up, then the workload's passes. Trace runs make
        one pass more and alternate untraced and traced passes after the
        first; the untraced ones after the first give the tracing
        overhead. A pass that would end more than a quarter past its share
        of --seconds is not started, once three passes are done: on a
        crowded host the run stays within its time instead of growing."""
        w = WORKLOADS[self.w]
        self.setups.append(self.start_child())
        n = max(3, round(seconds / w["pass_s"]))
        last = 0.0
        t0 = time.perf_counter()
        cap = t0 + 1.25 * seconds * (n + trace) / n
        for p in range(n + trace):
            now = time.perf_counter()
            if (self.child is None or now + last > self.deadline - 5
                    or (p >= 3 and now + last > cap)):
                break
            t_pass = time.perf_counter()
            for kind in w["pass"]:
                if self.child is None:
                    break
                self.op(kind, bool(trace) and p % 2 == 1, "timed", p)
            last = time.perf_counter() - t_pass
        if self.child is not None:
            self.child.close()
            self.child = None


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else None


def end_to_end(r):
    timed = [o for o in r.ops if o["phase"] == "timed" and not o["traced"]]
    m = {}
    for i, kind in enumerate(WORKLOADS[r.w]["ops"], 1):
        v = med([o["wall_s"] for o in timed if o["kind"] == kind and o["ok"]])
        if v is not None:
            m[f"op{i}_s"] = {"value": v, "unit": "s"}
    v = med([s["setup_s"] for s in r.setups if s["ok"]])
    if v is not None:
        m["setup_s"] = {"value": v, "unit": "s"}
    return m


def peak_task_mem_mb(ops):
    peaks = [int(s["peak_mem_bytes"]) for o in ops for s in o.get("spans", [])]
    return max(peaks, default=0) / 2**20


LOOP_METRICS = [
    ("sssp_self_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("job_s_p50", "s"), ("job_s_growth", "ratio"), ("driver_gap_s", "s"),
    ("sched_delay_s", "s"), ("cpu_util", "ratio"), ("shuffle_write_mb", "MB"),
    ("shuffle_records", "count"), ("gc_s", "s"), ("task_failures", "count"),
    ("peak_task_mem_mb", "MB"),
]
PER_LAYER = (
    [("session.start_s", "s"), ("session.warm_s", "s"), ("session.restarts", "count")]
    + [(f"sources.{g}.{k}", u) for g in ("road", "social", "reverse")
       for k, u in (("scan_records", "count"), ("scan_amplification", "ratio"), ("write_s", "s"))]
    + [(f"graphops.{g}.{k}", u) for g in ("road", "social") for k, u in LOOP_METRICS]
    + [("graphops.reverse.self_s", "s"),
       ("dedup.candidates_self_s", "s"), ("dedup.clusters_self_s", "s"),
       ("dedup.clusters_write_s", "s"), ("dedup.clusters_jobs", "count"),
       ("dedup.pairs_self_s", "s"), ("dedup.pairs_write_s", "s"), ("dedup.pairs_jobs", "count"),
       ("dedup.task_skew", "ratio"), ("dedup.spill_mb", "MB"), ("dedup.shuffle_write_mb", "MB"),
       ("dedup.cpu_util", "ratio"), ("dedup.peak_task_mem_mb", "MB"),
       ("dedup.pairs_out", "count"), ("dedup.dupes_out", "count"),
       ("functions.minhash_sig_s", "s"), ("functions.docs_per_s", "1/s"),
       ("trace.overhead_ratio", "ratio")])


def _span(o, name):
    return next(s for s in o["spans"] if s["name"] == name)


def _total(o, key):
    return sum(float(s[key]) for s in o["spans"])


def per_layer(r, cores):
    """Per-layer metrics of the traced ops; 0 where the workload does not
    run the layer."""
    traced = [o for o in r.ops if o["phase"] == "timed" and o["traced"] and o["ok"]]
    # the JIT is still speeding ops up through the first pass
    plain = [o for o in r.ops if o["phase"] == "timed" and not o["traced"] and o["ok"]
             and o["pass"] > 0]
    m = {name: 0.0 for name, _ in PER_LAYER}

    def of(kind):
        return [o for o in traced if o["kind"] == kind]

    def span_med(kind, name, key):
        return med([float(_span(o, name)[key]) for o in of(kind)])

    ok_setups = [s for s in r.setups if s["ok"]]
    m["session.start_s"] = med([s["start_s"] for s in ok_setups]) or 0.0
    m["session.warm_s"] = med([s["warm_s"] for s in ok_setups]) or 0.0
    m["session.restarts"] = len(r.restarts)

    for g, kind, write in (("road", "road_sssp", "sources.writeResult"),
                           ("social", "social_sssp", "sources.writeResult"),
                           ("reverse", "reverse", "sources.writeAdjacency")):
        if not of(kind):
            continue
        scans = [_total(o, "input_records") for o in of(kind)]
        m[f"sources.{g}.scan_records"] = med(scans)
        lines = r.meta[KINDS[kind][1]]["tsv_lines" if kind == "reverse" else "lines"]
        m[f"sources.{g}.scan_amplification"] = med(scans) / lines
        m[f"sources.{g}.write_s"] = span_med(kind, write, "dur_s")
    if of("reverse"):
        m["graphops.reverse.self_s"] = span_med("reverse", "graphops.reverseGraph", "self_s")

    for g, kind in (("road", "road_sssp"), ("social", "social_sssp")):
        sp = [_span(o, "graphops.sssp") for o in of(kind)]
        if not sp:
            continue
        p = f"graphops.{g}."
        m[p + "sssp_self_s"] = med([float(s["self_s"]) for s in sp])
        for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                          ("gap_s", "driver_gap_s"), ("sched_delay_s", "sched_delay_s"),
                          ("gc_s", "gc_s"), ("shuffle_write_records", "shuffle_records")):
            m[p + name] = med([float(s[key]) for s in sp])
        m[p + "shuffle_write_mb"] = med([float(s["shuffle_write_bytes"]) / 2**20 for s in sp])
        m[p + "cpu_util"] = med([float(s["cpu_s"]) / (float(s["dur_s"]) * cores) for s in sp])
        m[p + "task_failures"] = sum(int(s["task_failures"]) for s in sp)
        m[p + "peak_task_mem_mb"] = max(int(s["peak_mem_bytes"]) for s in sp) / 2**20
        m[p + "job_s_p50"] = med([med(s["job_s"]) for s in sp if s["job_s"]]) or 0.0
        growth = []
        for s in sp:
            js = s["job_s"]
            k = min(10, len(js) // 2)
            if k and med(js[:k]) > 0:
                growth.append(med(js[-k:]) / med(js[:k]))
        m[p + "job_s_growth"] = med(growth) or 0.0

    if of("clusters"):
        cs = of("clusters")
        m["dedup.candidates_self_s"] = span_med("clusters", "dedup.minhashCandidatePairs", "self_s")
        m["dedup.clusters_self_s"] = span_med("clusters", "dedup.clusters", "self_s")
        m["dedup.clusters_write_s"] = span_med("clusters", "sink.writeParquet", "dur_s")
        m["dedup.clusters_jobs"] = med([_total(o, "jobs") for o in cs])
        m["dedup.dupes_out"] = med([o["dupes"] for o in cs])
    if of("pairs"):
        ps = of("pairs")
        m["dedup.pairs_self_s"] = span_med("pairs", "dedup.prefixFilterPairs", "self_s")
        m["dedup.pairs_write_s"] = span_med("pairs", "sink.writeParquet", "dur_s")
        m["dedup.pairs_jobs"] = med([_total(o, "jobs") for o in ps])
        m["dedup.task_skew"] = med([float(o["spans"][0]["task_skew"]) for o in ps])
        m["dedup.spill_mb"] = med([_total(o, "spill_bytes") / 2**20 for o in ps])
        m["dedup.shuffle_write_mb"] = med([_total(o, "shuffle_write_bytes") / 2**20 for o in ps])
        m["dedup.cpu_util"] = med([_total(o, "cpu_s") / (o["wall_s"] * cores) for o in ps])
        m["dedup.peak_task_mem_mb"] = peak_task_mem_mb(ps)
        m["dedup.pairs_out"] = med([o["rows"] for o in ps])
    if of("minhash_sig"):
        t = med([o["wall_s"] for o in of("minhash_sig")])
        m["functions.minhash_sig_s"] = t
        m["functions.docs_per_s"] = r.meta["sig_docs"]["n_docs"] / t

    ratios = []
    for kind in WORKLOADS[r.w]["ops"]:
        a = med([o["wall_s"] for o in traced if o["kind"] == kind])
        b = med([o["wall_s"] for o in plain if o["kind"] == kind])
        if a and b:
            ratios.append(a / b - 1.0)
    m["trace.overhead_ratio"] = med(ratios) or 0.0
    units = dict(PER_LAYER)
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


# ---------------------------------------------------------------- report

def report(r, metrics, loads, steal_pct):
    """Every op with its check result and host-independent counts, then
    each op kind's median under its own name, then the metrics."""
    log(f"== workload {r.w}: load1 {loads[0]:.2f} -> {loads[1]:.2f}, cpu steal {steal_pct:.1f}%")
    for o in r.ops:
        counts = ""
        if o.get("spans"):
            counts = "".join(f" {k}={int(_total(o, key))}" for k, key in (
                ("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                ("shuffle_rec", "shuffle_write_records"), ("input_rec", "input_records")))
        t = f"{o['wall_s']:.3f} s" if "wall_s" in o else "-"
        res = "pass" if o["ok"] else f"FAIL {o.get('err')}" + (f": {o['check']}" if o["check"] else "")
        src = f" src={o['args'][-1]}" if KINDS[o["kind"]][0] == "sssp" else ""
        log(f"  op {o['id']:3d} {o['phase']:5s} {o['kind']}{' traced' if o['traced'] else ''}"
            f"{src} {t} {res}{counts}")
    timed = [o for o in r.ops if o["phase"] == "timed" and not o["traced"]]
    for kind in WORKLOADS[r.w]["ops"]:
        mine = [o for o in timed if o["kind"] == kind]
        ok = [o["wall_s"] for o in mine if o["ok"]]
        v = f"{med(ok):.4f} s" if ok else "missing"
        log(f"  {kind + '_s':18s} {v} (median of {len(ok)} passed of {len(mine)} timed)")
    fail = len([o for o in r.ops if not o["ok"]])
    log(f"  {'failed_ratio':18s} {fail / len(r.ops):.4f} ({fail} of {len(r.ops)} ops)")
    log(f"  {'peak_task_mem_mb':18s} {peak_task_mem_mb(timed):.6g} MB")
    for k, v in metrics.items():
        log(f"  {k:18s} {v['value']:.6g} {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()
    # a terminated run still reaches the `finally` that stops its child JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"no engine sources at {ROOT} (need build.sbt and src/main/scala/graft)")
    for d in ("tmp", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    t_build = time.perf_counter()
    cp = build()
    build_s = time.perf_counter() - t_build
    deadline = t_start + build_s + RUN_LIMIT_S
    oracle_sql = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    t_inputs = time.perf_counter()
    meta = inputs(a.workload, a.seed, oracle_sql)
    log(f"inputs ready in {time.perf_counter() - t_inputs:.1f} s")

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    loads = [os.getloadavg()[0]]
    ticks = cpu_ticks()
    r = Runner(a.workload, meta, cp, cores, deadline, run_dir)
    try:
        r.run(a.seconds, a.trace)
    finally:
        if r.child is not None:
            r.child.kill()
    loads.append(os.getloadavg()[0])
    steal, total = (end - start for start, end in zip(ticks, cpu_ticks()))
    steal_pct = 100.0 * steal / max(1, total)

    metrics = per_layer(r, cores) if a.trace else end_to_end(r)
    report(r, metrics, loads, steal_pct)
    result = {
        "correct": not any(o.get("check") for o in r.ops),
        "attempted": len(r.ops),
        "failed": len([o for o in r.ops if not o["ok"]]),
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "cores": cores, "load1_start": loads[0], "load1_end": loads[1],
                   "steal_pct": steal_pct,
                   "setups": r.setups, "restarts_s": r.restarts,
                   "ops": r.ops, "result": result}, f)
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
