#!/usr/bin/env python3
"""Layer-traced benchmark of the graft engine.

One closed-loop client: the main thread of one JVM issues one call at a
time against `GraftSession.build("local[<nproc>]", "<nproc>")`. Every
layer is timed from outside, by calls into its public functions:
`SparkEntry.queries` (queries), the `queryExecution` planning phases
(catalyst), Spark's jobs/stages/tasks through a registered SparkListener
(exec), the `graft.sources.Writers` layout verbs (writers) and the
stored-layout probes (probe).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The inputs are the `documents` and
`embeddings` tables of the engine's sf0.1 test corpus, copied unchanged
into perfbench/data/sf0.1. The first run in a checkout builds the engine
and the benchmark (perfbench/build.sh) and runs the DuckDB oracle gate
once (graft.Verify with SPARK_GRAFT_ONLY, then tools/check.py); both land
under `.bench_build/perfbench/` and are reused while their inputs are
unchanged.
The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer ones with
--trace 1). A traced run also writes its spans and the per-query
breakdown to `.bench_build/perfbench/traces/`.
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
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
STATE = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
ORDERS_PER_RUN = 64

# Declared queries per workload (registry names of graft.SparkEntry.queries):
# the curation operators whose plan construction runs eager localCheckpoint
# jobs.
CURATION = ["q89_decontamination", "q97_unigram_logprob",
            "q108_image_neardup", "q115_bigram_logprob",
            "q119_containment_pairs", "q148_collocations"]
WORKLOADS = {"curation_sf01": CURATION, "layout_lifecycle": None}
# The lifecycle runs over a seeded slice of the sf0.1 corpus (5k
# documents, 2k embeddings): its verbs cost per job and per file, and a
# chain over all 5k documents would not fit a run.
LC_DOCS, LC_VECS = 100, 40
LAYOUTS = ["bm25", "postings", "ivfpq"]
VERBS = ["build", "merge", "delete", "update", "compact", "vacuum"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("pass_cpu_s", "s")]
EXEC = [("jobs", "count"), ("stages", "count"), ("stages_skipped", "count"),
        ("tasks", "count"), ("task_s", "s"), ("task_cpu_s", "s"),
        ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
        ("spill_bytes", "B"), ("input_bytes", "B"), ("failed_tasks", "count")]
PER_LAYER = (
    [("query_p50_s", "s"), ("live_heap_mb", "MB"),
     ("queries.construct_s", "s"),
     ("queries.construct_jobs", "count"), ("catalyst.plan_s", "s"), ("catalyst.exchanges", "count"),
     ("catalyst.scans", "count"), ("catalyst.checkpoint_leaves", "count")]
    + [("exec." + n, u) for n, u in EXEC]
    + [("exec.busy_ratio", "ratio")]
    + [(f"writers.{lay}.{v}_s", "s") for lay in LAYOUTS for v in VERBS]
    + [(f"writers.{lay}.{n}", u) for lay in LAYOUTS for n, u in
       [("jobs", "count"), ("files_written", "count"),
        ("bytes_written", "B"), ("vacuum_bytes_freed", "B"),
        ("merge_write_amp", "ratio"), ("live_files", "count")]]
    + [(f"probe.{lay}.{n}", u) for lay in LAYOUTS for n, u in
       [("files_read", "count"), ("input_bytes", "B"), ("jobs", "count")]]
    + [("build_s", "s"), ("maint_s", "s"),
       ("stored_bytes_per_input_byte", "ratio"), ("fail_rate", "ratio"),
       ("trace.pass_s", "s"), ("trace.overhead_ratio", "ratio")])


# ---- planning ---------------------------------------------------------------

def ids(table, key):
    return pq.read_table(os.path.join(DATA, table + ".parquet"),
                         columns=[key]).column(key).to_pylist()


def make_plan(workload, seed):
    """Everything the seed decides: the query order of each pass, or the
    lifecycle's corpus slice, id-slice salt, probe terms, phrase and
    query vectors."""
    rng = random.Random(f"{workload}:{seed}")
    queries = WORKLOADS[workload]
    if queries is None:
        doc_ids = sorted(rng.sample(ids("documents", "doc_id"), LC_DOCS))
        vec_ids = sorted(rng.sample(ids("embeddings", "vec_id"), LC_VECS))
        docs = slice_of("documents", "doc_id", doc_ids)
        vocab = sorted({w for t in docs.column("text").to_pylist()
                        for w in t.split(" ") if w})
        return {"lc.doc_ids": doc_ids, "lc.vec_ids": vec_ids,
                "lc.salt": rng.randrange(1, 2 ** 31),
                "lc.terms": rng.sample(vocab, 3),
                "lc.phrase": rng.sample(vocab, 2),
                "lc.qvecs": rng.sample(vec_ids, 6)}
    orders = []
    for _ in range(ORDERS_PER_RUN):
        o = list(range(len(queries)))
        rng.shuffle(o)
        orders.append(o)
    return {"queries": list(queries), "orders": orders}


def slice_of(table, key, keep):
    t = pq.read_table(os.path.join(DATA, table + ".parquet"))
    return t.filter(pc.is_in(t[key], value_set=pa.array(keep, pa.int64())))


def write_lifecycle_corpus(plan, out):
    """The lifecycle's corpus: the plan's rows of the sf0.1 tables, in the
    same single-file layout."""
    os.makedirs(out)
    for table, key, k in (("documents", "doc_id", "lc.doc_ids"),
                          ("embeddings", "vec_id", "lc.vec_ids")):
        pq.write_table(slice_of(table, key, plan[k]),
                       os.path.join(out, table + ".parquet"))


def plan_properties(plan):
    lines = []
    for k, v in plan.items():
        if k == "orders":
            v = ";".join(",".join(map(str, o)) for o in v)
        elif isinstance(v, list):
            v = ",".join(map(str, v))
        lines.append(f"{k}={v}")
    return "\n".join(lines) + "\n"


# ---- statistics ---------------------------------------------------------------

def percentile_with_tail(samples, q, min_tail=10):
    """The q-quantile of `samples`, or None unless at least `min_tail`
    samples lie strictly beyond it — a tail percentile needs a tail."""
    if not samples:
        return None
    xs = sorted(samples)
    v = xs[min(len(xs) - 1, int(q * len(xs)))]
    return v if sum(1 for x in xs if x > v) >= min_tail else None


def self_time(span, children):
    """Span duration minus the time its children cover (overlaps merged)."""
    cover, cur = 0, None
    for s, e in sorted((c[4], c[5]) for c in children):
        s, e = max(s, span[4]), min(e, span[5])
        if e <= s:
            continue
        if cur and s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            if cur:
                cover += cur[1] - cur[0]
            cur = [s, e]
    if cur:
        cover += cur[1] - cur[0]
    return span[5] - span[4] - cover


def dur(span):
    return (span[5] - span[4]) / 1e9


# ---- correctness ---------------------------------------------------------------

def evaluate(workload, out, reference):
    """(attempted, failed, notes). Query digests must equal the digest of the
    oracle-checked dump; lifecycle probes must equal the same probe over a
    from-scratch build of the same live ids."""
    failed, notes = 0, []
    checks = out["checks"]
    attempted = out["attempted"] + len(checks)
    if WORKLOADS[workload] is None:
        for k, e, a in checks:
            if a != e:
                failed += 1
                notes.append(f"probe {k}: {a} != rebuild {e}")
    else:
        seen = {k for k, _, _ in checks}
        attempted += sum(1 for q in WORKLOADS[workload] if q not in seen)
        for k, _, a in checks:
            ref = reference.get(k)
            if ref is None or not ref["oracle_pass"] or a != ref["digest"]:
                failed += 1
                notes.append(f"query {k}: {a} vs reference {ref}")
    for op, msg in out["errors"]:
        failed += 1
        notes.append(f"{op} raised: {msg}")
    return attempted, failed, notes


# ---- metrics ------------------------------------------------------------------

class Trace:
    def __init__(self, out):
        self.spans = out["spans"]
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s[1], []).append(s)
        self.groups = out.get("groups", {})

    def under(self, root, kind=None):
        stack, found = [root], []
        while stack:
            for c in self.kids.get(stack.pop()[0], []):
                stack.append(c)
                if kind is None or c[2] == kind:
                    found.append(c)
        return found

    def jobs(self, spans, key="jobs"):
        """Sum of a Spark counter over the job groups of `spans`."""
        return sum(self.groups.get(str(s[0]), {}).get(key, 0) for s in spans)

    def passes(self):
        return [s for s in self.spans if s[2] == "pass"]


def ops_of(trace, lifecycle):
    """The operations a user waits on: queries, or stored-layout probes."""
    kind = "probe" if lifecycle else "query"
    return [s for p in trace.passes() for s in trace.under(p, kind)]


def end_to_end(out, t_launch):
    passes = Trace(out).passes()
    return {"setup_s": out["warm_end_ms"] / 1000.0 - t_launch,
            "pass_s": statistics.median(map(dur, passes)),
            "pass_cpu_s": statistics.median(p[6]["cpu_s"] for p in passes)}


def per_layer(out, lifecycle, cpus, fail_rate):
    """Per-layer figures of a traced run, per pass (one pass = one sweep
    over the workload's queries, or one lifecycle chain)."""
    tr = Trace(out)
    passes = tr.passes()
    n = max(1, len(passes))
    m = {k: 0.0 for k, _ in PER_LAYER}
    inside = [s for p in passes for s in tr.under(p)]
    m["query_p50_s"] = statistics.median(map(dur, ops_of(tr, lifecycle)))
    m["live_heap_mb"] = out["live_heap"] / 2.0 ** 20

    def of(kind):
        return [s for s in inside if s[2] == kind]

    construct = of("construct")
    m["queries.construct_s"] = sum(map(dur, construct)) / n
    m["queries.construct_jobs"] = tr.jobs(construct) / n
    plans = of("plan")
    m["catalyst.plan_s"] = sum(map(dur, plans)) / n
    for k in ("exchanges", "scans", "checkpoint_leaves"):
        m["catalyst." + k] = sum(s[6].get(k, 0) for s in plans) / n
    for k, _ in EXEC:
        m["exec." + k] = tr.jobs(inside + passes, k) / n
    ops = of("verb") + of("probe") if lifecycle else of("execute")
    wall = sum(map(dur, ops))
    if wall > 0:
        busy = tr.jobs([d for o in ops for d in tr.under(o)] + ops, "task_s")
        m["exec.busy_ratio"] = busy / (wall * cpus)

    if lifecycle:
        fresh = {s[3]: s[6].get("fresh_bytes", 0) for s in tr.spans
                 if s[2] == "input"}
        for lay in LAYOUTS:
            verbs = [s for s in of("verb") if s[3].startswith(lay + ".")]
            for v in VERBS:
                m[f"writers.{lay}.{v}_s"] = sum(
                    dur(s) for s in verbs if s[3] == f"{lay}.{v}") / n
            m[f"writers.{lay}.jobs"] = tr.jobs(verbs) / n
            for k, attr in (("files_written", "files_written"),
                            ("bytes_written", "bytes_written")):
                m[f"writers.{lay}.{k}"] = sum(
                    s[6].get(attr, 0) for s in verbs) / n
            m[f"writers.{lay}.vacuum_bytes_freed"] = sum(
                s[6].get("bytes_freed", 0) for s in verbs
                if s[3].endswith(".vacuum")) / n
            merged = sum(s[6].get("bytes_written", 0) for s in verbs
                         if s[3].endswith(".merge")) / n
            if fresh.get(lay):
                m[f"writers.{lay}.merge_write_amp"] = merged / fresh[lay]
            m[f"writers.{lay}.live_files"] = out["layouts"].get(
                lay, {}).get("live_files", 0)
            probes = [s for s in of("probe") if s[3].startswith(lay + ".")]
            m[f"probe.{lay}.files_read"] = sum(
                s[6].get("files_read", 0) for s in probes) / n
            m[f"probe.{lay}.input_bytes"] = tr.jobs(probes, "input_bytes") / n
            m[f"probe.{lay}.jobs"] = tr.jobs(probes) / n
        verbs = of("verb")
        m["build_s"] = sum(dur(s) for s in verbs
                           if s[3].endswith(".build")) / n
        m["maint_s"] = sum(dur(s) for s in verbs
                           if not s[3].endswith(".build")) / n
        stored = sum(v["stored_bytes"] for v in out["layouts"].values())
        inp = sum(v["input_bytes"] for v in out["layouts"].values())
        m["stored_bytes_per_input_byte"] = stored / inp if inp else 0.0
    m["fail_rate"] = fail_rate
    # tracing-only work: forced planning (its own `plan` spans) and the
    # lifecycle's file listings and plan walks (`trace` spans)
    traced_wall = sum(map(dur, passes))
    extra = sum(map(dur, plans + of("trace")))
    m["trace.pass_s"] = traced_wall / n
    if traced_wall > extra:
        m["trace.overhead_ratio"] = extra / (traced_wall - extra)
    return m


def per_query(out):
    """Per-query breakdown of a traced run, averaged over passes: wall and
    self time, construct/plan/execute time, the Spark work each phase
    submitted and the plan counts."""
    tr = Trace(out)
    rows = {}
    for p in tr.passes():
        for q in tr.under(p, "query"):
            kids = tr.kids.get(q[0], [])
            r = rows.setdefault(q[3], {"samples": 0})
            r["samples"] += 1
            add = {"wall_s": dur(q), "self_s": self_time(q, kids) / 1e9}
            for c in kids:
                add[c[2] + "_s"] = dur(c)
                for k, _ in EXEC:
                    add[f"{c[2]}.{k}"] = tr.jobs(tr.under(c) + [c], k)
                for k in ("exchanges", "scans", "checkpoint_leaves"):
                    if k in c[6]:
                        r[k] = c[6][k]
            for k, v in add.items():
                r[k] = r.get(k, 0.0) + v
    for r in rows.values():
        for k in list(r):
            if k not in ("samples", "exchanges", "scans",
                         "checkpoint_leaves"):
                r[k] = r[k] / r["samples"]
    return rows


def sanity(workload, rows, m):
    """The trace must observe what it claims: eager-checkpoint queries run
    jobs while their plan is built; only the lifecycle drives Writers."""
    bad = []
    if workload == "curation_sf01":
        bad += [f"{q} ran no construct job" for q in CURATION
                if rows.get(q, {}).get("construct.jobs", 0) <= 0]
    writers = [k for k in m if k.startswith("writers.") and m[k]]
    if workload == "layout_lifecycle":
        bad += [f"writers.{lay}.jobs is 0" for lay in LAYOUTS
                if not m[f"writers.{lay}.jobs"]]
    elif writers:
        bad.append(f"writers metrics non-zero outside the lifecycle: "
                   f"{writers}")
    return bad


# ---- preparation (build, oracle gate) ---------------------------------------------

def tree_digest(*roots):
    h = hashlib.sha256()
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(stamp_path, key, make):
    """Run make() unless `stamp_path` already records `key`."""
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == key:
                return
        os.remove(stamp_path)
    make()
    with open(stamp_path, "w") as f:
        f.write(key)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """SPARK_JARS, else $SPARK_HOME/jars, else the jars of the installed
    pyspark package (the same Spark build)."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def java_cmd(classes, run_dir, mem="3g"):
    """The JVM command line: Spark's JDK 17 module opens (as build.sbt
    sets them) and a temp dir inside `run_dir`."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{mem}", "-Xss8m"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([os.path.join(classes, "engine"),
                          os.path.join(classes, "bench"),
                          os.path.join(spark_jars(), "*")])
    return cmd + ["-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={os.path.abspath(run_dir)}/tmp",
                  "-cp", cp]


def jvm_env(run_dir, cpus, **extra):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(run_dir, "local"))
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env.update(extra)
    return env


def new_run_dir(tag):
    d = os.path.join(STATE, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    os.makedirs(os.path.join(d, "local"))
    return d


def run_logged(cmd, run_dir, name, timeout, **kw):
    log_path = os.path.join(run_dir, name + ".log")
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, **kw)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise RuntimeError(f"{name} exited with {rc}")


def prepare(cpus):
    """Build and oracle reference, each redone only when its inputs
    changed. Returns (classes dir, reference)."""
    os.makedirs(STATE, exist_ok=True)
    classes = os.path.join(STATE, "classes")
    src_key = tree_digest("src/main/scala", os.path.join(HERE, "scala"))

    def build():
        log("building engine and benchmark")
        subprocess.run(["sh", os.path.join(HERE, "build.sh"), classes,
                        spark_jars()], check=True, stdout=sys.stderr)
    cached(os.path.join(STATE, "classes.stamp"), src_key, build)

    ref_path = os.path.join(STATE, "reference.json")
    corpus = os.path.abspath(DATA)

    def oracle():
        log("oracle gate: graft.Verify + tools/check.py over the corpus")
        run_dir = new_run_dir("oracle")
        dump = os.path.join(run_dir, "dump")
        try:
            run_logged(java_cmd(classes, run_dir) + ["graft.Verify", corpus,
                                                     dump],
                       run_dir, "verify", 600,
                       env=jvm_env(run_dir, cpus,
                                   SPARK_GRAFT_ONLY=",".join(CURATION)))
            verdict = os.path.join(run_dir, "oracle.json")
            subprocess.run([sys.executable, "tools/check.py", corpus, dump,
                            verdict], stdout=subprocess.DEVNULL)
            with open(verdict) as f:
                passed = json.load(f)
            tsv = os.path.join(run_dir, "digests.tsv")
            run_logged(java_cmd(classes, run_dir) + ["perfbench.Reference",
                                                     dump, tsv] + CURATION,
                       run_dir, "reference", 300, env=jvm_env(run_dir, 2))
            ref = {}
            with open(tsv) as f:
                for line in f:
                    q, digest = line.rstrip("\n").split("\t")
                    ref[q] = {"digest": digest, "oracle_pass": bool(
                        passed.get(q, {}).get("hash_match"))}
            with open(ref_path, "w") as f:
                json.dump(ref, f, indent=1, sort_keys=True)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    cached(os.path.join(STATE, "reference.stamp"),
           f"{src_key}:{tree_digest(DATA)}:{','.join(CURATION)}", oracle)
    with open(ref_path) as f:
        return classes, json.load(f)


# ---- one run ------------------------------------------------------------------

def temp_graft_entries():
    d = tempfile.gettempdir()
    try:
        return {e for e in os.listdir(d) if e.startswith("graft-")}
    except OSError:
        return set()


def run(workload, seed, seconds, trace, cpus):
    classes, reference = prepare(cpus)
    lifecycle = WORKLOADS[workload] is None
    plan = make_plan(workload, seed)
    run_dir = new_run_dir(workload)
    out_path = os.path.join(run_dir, "out.json")
    corpus = DATA
    props = dict(plan, workload=workload, out=os.path.abspath(out_path),
                 seconds=seconds, trace=int(trace), cpus=cpus)
    if lifecycle:
        corpus = os.path.join(run_dir, "corpus")
        write_lifecycle_corpus(plan, corpus)
        # rebuild-checked stages: the final live set always, every stage
        # in a traced run
        props["lc.verify_stages"] = [0, 1, 2, 3] if trace else [3]
    props["corpus"] = os.path.abspath(corpus)
    plan_path = os.path.join(run_dir, "plan.properties")
    with open(plan_path, "w") as f:
        f.write(plan_properties(props))
    before = temp_graft_entries()
    t_launch = time.time()
    try:
        run_logged(java_cmd(classes, run_dir) + ["perfbench.BenchMain",
                                                 plan_path],
                   run_dir, "bench", JVM_TIMEOUT_S,
                   env=jvm_env(run_dir, cpus))
        with open(out_path) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    leaked = sorted(temp_graft_entries() - before)

    attempted, failed, notes = evaluate(workload, out, reference)
    if leaked:
        failed += 1
        notes.append(f"left {leaked} in {tempfile.gettempdir()}")
    for n in notes:
        log(n)
    if trace:
        m = per_layer(out, lifecycle, cpus, failed / attempted)
        metrics = {k: (m[k], u) for k, u in PER_LAYER}
        rows = per_query(out)
        bad = sanity(workload, rows, m)
        op_times = [dur(s) for s in ops_of(Trace(out), lifecycle)]
        for b in bad:
            log("trace sanity: " + b)
        tdir = os.path.join(STATE, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{workload}-seed{seed}.json"),
                  "w") as f:
            json.dump({"workload": workload, "seed": seed, "plan": plan,
                       "metrics": m, "op_samples": len(op_times),
                       "peak_rss_mb": out["peak_rss_kb"] / 1024.0,
                       "op_p90_s": percentile_with_tail(op_times, 0.9),
                       "per_query": rows, "sanity": bad,
                       "notes": notes, "spans": out["spans"],
                       "groups": out["groups"]}, f)
    else:
        m = end_to_end(out, t_launch)
        metrics = {k: (m[k], u) for k, u in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    missing = [p for p in ("src/main/scala/graft", "tools/check.py")
               if not os.path.exists(p)]
    if missing:
        log(f"run from the repository root: {missing} not found")
        return 2
    cpus = len(os.sched_getaffinity(0))
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), cpus)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
