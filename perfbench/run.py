#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, three workloads.

    python3 perfbench/run.py --workload tpch|curation|index_churn \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft from `src/main`
and the driver from `perfbench/src` into `.bench_build/`, and generates
the corpus into `.bench_data/`; later runs reuse both while the sources
are unchanged. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
metrics when `--trace 0` and the per-layer metrics when `--trace 1`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SCALE = 0.01            # corpus scale factor (TPC-H sf)
SETUP_REPS = 3          # session builds per run; setup_s takes their median
RUN_LIMIT_S = 150       # the driver JVM is killed after this many seconds
RECALL_FLOOR = 0.3      # ANN recall@10 floor (AnnIndexSpec's default-index SLO)

TPCH = ["q1_agg"] + [f"q_tpch_q{i}" for i in range(2, 23)]
CURATION = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_clusters",
    "dedup_incremental_media", "text_quality", "pipeline_contamination",
    "text_unigram_logprob", "pipeline_dsir_weight", "quality_ccnet_bucket",
    "text_tfidf_vectors", "pipeline_pack_binned", "text_bpe_encode",
    "quality_dup_ngram_share", "text_pmi_bigrams", "text_skipgram_pmi",
    "pipeline_source_overlap"]
WORKLOADS = ("tpch", "curation", "index_churn")
# query warm-up passes: a key's calls keep getting faster until its third
# (the JIT is still compiling), so the timed pass is each key's third call
WARMUP_PASSES = 2

# index_churn: every block runs this schedule, 80% probes (the seed draws
# the probe vectors, terms and deleted ids); its last append also compacts
# both indexes, so each block starts from compacted indexes
_PROBES = ["ann_query", "bm25_search"] * 2
CHURN_BLOCK = _PROBES + ["append"] + _PROBES + ["delete"] + _PROBES + ["append"]
CHURN_BLOCKS = 200
# warm-up rounds (the same two probes each time): after one, probe latency
# still falls by a third over a block's first probes while the JIT catches up
CHURN_WARMUPS = 4
ANN_BATCH, DOC_BATCH, DELETE_N = 16, 48, 4
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream filter group vector").split()
NEW_ID_BASE = 1 << 32

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- plan

def query_plan(keys, seed, passes=400):
    """WARMUP_PASSES warm-up passes in the listed order, then `passes` timed
    passes (the blocks), each a seed-shuffled permutation of every key."""
    rng = random.Random(f"query:{seed}")
    lines = [("W", "query", {"key": k, "block": "-1"}) for _ in range(WARMUP_PASSES) for k in keys]
    for p in range(passes):
        order = list(keys)
        rng.shuffle(order)
        lines += [("T", "query", {"key": k, "block": str(p)}) for k in order]
    return lines


def churn_plan(n_emb, n_doc, seed, blocks=CHURN_BLOCKS):
    """Blocks of the CHURN_BLOCK schedule with seed-drawn arguments. Rows with
    id % 10 == 9 are held out of the initial indexes and appended later
    under fresh ids; deletes pick from the rows live at that point."""
    rng = random.Random(f"churn:{seed}")
    held_emb = [i for i in range(n_emb) if i % 10 == 9]
    held_doc = [i for i in range(n_doc) if i % 10 == 9]
    live_emb = [i for i in range(n_emb) if i % 10 != 9]
    live_doc = [i for i in range(n_doc) if i % 10 != 9]
    fixed = random.Random("warm-up")
    lines = [("W", "ann_query", {"q": ",".join(map(str, fixed.sample(range(n_emb), 8)))}),
             ("W", "bm25_search", {"terms": ",".join(fixed.sample(VOCAB, 3))})] * CHURN_WARMUPS
    appends, next_id = 0, NEW_ID_BASE
    for b in range(blocks):
        in_block = 0
        for kind in CHURN_BLOCK:
            args = {"block": str(b)}
            if kind == "ann_query":
                args["q"] = ",".join(map(str, rng.sample(range(n_emb), 8)))
            elif kind == "bm25_search":
                args["terms"] = ",".join(rng.sample(VOCAB, 3))
            elif kind == "append":
                a = [(held_emb[(appends * ANN_BATCH + j) % len(held_emb)], next_id + j)
                     for j in range(ANN_BATCH)]
                next_id += ANN_BATCH
                d = [(held_doc[(appends * DOC_BATCH + j) % len(held_doc)], next_id + j)
                     for j in range(DOC_BATCH)]
                next_id += DOC_BATCH
                appends += 1
                in_block += 1
                live_emb += [i for _, i in a]
                live_doc += [i for _, i in d]
                args["a"] = ",".join(f"{s}:{i}" for s, i in a)
                args["d"] = ",".join(f"{s}:{i}" for s, i in d)
                args["compact"] = "1" if in_block == CHURN_BLOCK.count("append") else "0"
            else:
                a = set(rng.sample(live_emb, DELETE_N))
                d = set(rng.sample(live_doc, DELETE_N))
                live_emb = [i for i in live_emb if i not in a]
                live_doc = [i for i in live_doc if i not in d]
                args["a"] = ",".join(map(str, sorted(a)))
                args["d"] = ",".join(map(str, sorted(d)))
            lines.append(("T", kind, args))
    return lines


def plan_text(lines):
    return "".join("\t".join([ph, kind] + [f"{k}={v}" for k, v in args.items()]) + "\n"
                   for ph, kind, args in lines)


# ---------------------------------------------------------------- stats

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def rank(n, p):
    """1-based nearest rank of percentile `p` (a multiple of 0.1) among `n`."""
    return max(1, -(-round(p * 10) * n // 1000))


def tail_percentile(n):
    """Highest ladder percentile with at least 10 of `n` samples beyond it
    (the median when no ladder step has)."""
    return max([p for p in TAIL_LADDER if n - rank(n, p) >= 10], default=TAIL_LADDER[0])


def percentile(xs, p):
    """Nearest-rank percentile."""
    return sorted(xs)[rank(len(xs), p) - 1]


def hd_median(xs):
    """Harrell-Davis estimate of the median: the mean of the order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) density over their ranks
    (integrated by the midpoint rule). The 16 `curation` keys leave a gap
    between their 8th and 9th fastest, so the sample median jumps whenever
    one call crosses it; this estimate spreads the weight over the middle
    ranks; over four sets of ten runs its spread was 7-33% smaller."""
    xs, n, steps = sorted(xs), len(xs), 64
    a = (n + 1) / 2
    # the density over its peak at u = 1/2, so long runs do not underflow
    w = [sum(math.exp((a - 1) * (math.log(4 * u) + math.log1p(-u)))
             for u in ((i + (k + 0.5) / steps) / n for k in range(steps)))
         for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail(xs):
    """(value, percentile) of the tail; the median itself when the sample
    supports no higher step."""
    p = tail_percentile(len(xs))
    return (statistics.median(xs) if p == 50.0 else percentile(xs, p)), p


# ---------------------------------------------------------------- build

def spark_jars(root):
    """The Spark jars directory the sbt build compiles against."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        die("cannot find the Spark jars directory named by build.sbt's unmanagedBase")
    return m.group(1)


def sources(root, sub):
    out = []
    for d, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_hash(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        die(f"compilation failed:\n{r.stdout[-4000:]}")


def jar(classes, dest):
    """Packs a class directory into a jar: a class-data-sharing archive
    holds only classes loaded from jars."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, sub, fs in os.walk(classes):
            sub.sort()
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))


def build(root, jars):
    """Compile graft (`src/main`) and the driver (`perfbench/src`) into jars
    when either changed, and refuse to run a build older than its sources.
    Returns the classpath."""
    out = os.path.join(root, ".bench_build", "graft")
    graft, bench = sources(root, "src/main"), sources(root, "perfbench/src")
    files = graft + bench
    stamp = os.path.join(out, "stamp")
    want = source_hash(files, root)

    cp = [os.path.join(out, "graft.jar"), os.path.join(out, "bench.jar")]

    def fresh():
        return (os.path.exists(stamp) and open(stamp).read() == want
                and max(os.path.getmtime(f) for f in files) <= os.path.getmtime(stamp)
                and all(os.path.exists(j) for j in cp))

    if not fresh():
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        scalac(jars, os.path.join(jars, "*"), os.path.join(out, "classes"), graft)
        scalac(jars, os.path.join(out, "classes") + ":" + os.path.join(jars, "*"),
               os.path.join(out, "bench"), bench)
        jar(os.path.join(out, "classes"), cp[0])
        jar(os.path.join(out, "bench"), cp[1])
        with open(stamp, "w") as f:
            f.write(want)
        print(f"perfbench: built graft in {time.time() - t0:.0f}s", file=sys.stderr)
    if not fresh():
        die("build is older than src/main or perfbench/src; refusing to measure a stale build")
    return cp


def ensure_data(root):
    import gen_data
    d = os.path.join(root, ".bench_data", f"sf{SCALE}")
    marker = os.path.join(d, "_complete")
    tag = source_hash([os.path.join(HERE, "gen_data.py")], HERE)
    if not (os.path.exists(marker) and open(marker).read() == tag):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, SCALE)
        with open(marker, "w") as f:
            f.write(tag)
    return d


def driver_heap():
    """SPARK_DRIVER_MEM, else half of RAM clamped to 2..8 GB (Tier-1 rule)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def steal_and_busy():
    """'steal,non-idle' jiffies from /proc/stat, as the driver reads them."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    except OSError:
        f = []
    return f"{f[7]},{sum(f) - f[3] - f[4]}" if len(f) >= 8 else "0,0"


def run_driver(jars, cp, conf, log, jvm_flags=()):
    """Runs the driver JVM with its temp and Spark local dirs in the run's
    directory; kills it after RUN_LIMIT_S."""
    heap = driver_heap()
    tmp = os.path.join(conf["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse"] + list(jvm_flags)
           + opens + ["-cp", ":".join(cp + [os.path.join(jars, "*")]),
                      "graftbench.Driver", conf["conf_file"]])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"driver exceeded {RUN_LIMIT_S}s; log: {log}")
        finally:  # on every way out (timeout, SIGTERM, Ctrl-C) the JVM goes too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        tail_lines = open(log, errors="replace").read()[-3000:]
        die(f"driver exited {rc}:\n{tail_lines}")
    return heap


# ---------------------------------------------------------------- metrics

def external_record(res):
    ext = [x for x in res["external_busy"] if x is not None and x >= 0]
    return {
        "nproc": res["cpus"], "driver_heap": res["heap"], "heap_max_mb": res["heap_max_mb"],
        "master": res["master"], "spark": res["spark_version"],
        "class_archive": res["class_archive"],
        "loadavg_before": res["loadavg_before"], "loadavg_after": res["loadavg_after"],
        "external_busy_mean": round(statistics.mean(ext), 4) if ext else None,
        "external_busy_max": round(max(ext), 4) if ext else None,
        "external_samples": len(ext),
        "steal_frac": round(res["steal_frac"], 4),
        "setup_steal_frac": round(res["setup_steal_frac"], 4),
        "outside_load": (bool(ext) and max(ext) > 0.2) or res["steal_frac"] > 0.05,
    }


def setup_seconds(res):
    """JVM start to the first timed operation, with the session build
    (repeated SETUP_REPS times) entering as its median."""
    return (res["jvm_to_main_s"] + statistics.median(res["session_builds_s"])
            + res.get("AnnIndex.build_s", 0.0) + res.get("Bm25Index.build_s", 0.0)
            + res["warmup_s"])


def net_seconds(o):
    """Operation time without the share the hypervisor stole from our CPUs
    (the steal fraction of non-idle CPU time during the operation)."""
    return o["s"] * (1.0 - o.get("steal_frac", 0.0))


def end_to_end(res, ops):
    secs = [net_seconds(o) for o in ops]
    return {
        "setup_s": (setup_seconds(res) * (1.0 - res["setup_steal_frac"]), "s"),
        "ops_per_s": (len(secs) / sum(secs), "1/s"),
        "op_p50_s": (hd_median(secs), "s"),
    }


def churn_split(res, ops):
    """index_churn's read, write and space sides: probe and write latency
    (median and tail) and the indexes' size on disk at the end."""
    out = {}
    for side, kinds in (("probe", ("ann_query", "bm25_search")), ("write", ("append", "delete"))):
        xs = [net_seconds(o) for o in ops if o["kind"] in kinds]
        t, p = tail(xs)
        out.update({f"{side}_p50_s": statistics.median(xs), f"{side}_tail_s": t,
                    f"{side}_tail_percentile": p, f"{side}_samples": len(xs)})
    out["index_mb"] = res["index_bytes"] / (1024.0 * 1024.0)
    return out


def per_layer(res, untraced, traced):
    """Per-layer metrics from the traced window's spans and counts."""
    jobs_by_span = {}
    for j in res["jobs"]:
        if j["group"].startswith("span-"):
            jobs_by_span.setdefault(int(j["group"][5:]), []).append(j)
    stages_by_job = {}
    for s in res["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)
    traced_ops = {o["idx"] for o in traced}
    by_name = {}
    for s in res["spans"]:
        if s["op"] in traced_ops:
            by_name.setdefault(s["name"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def jobs(name):
        return [j for s in by_name.get(name, []) for j in jobs_by_span.get(s["id"], [])]

    def stages(name):
        return [st for j in jobs(name) for st in stages_by_job.get(j["id"], [])]

    def per_op(x):
        return x / len(traced) if traced else 0.0

    def med(name):
        d = [dur(s) for s in by_name.get(name, [])]
        return statistics.median(d) if d else 0.0

    def per_call(name, x):
        n = len(by_name.get(name, []))
        return x / n if n else 0.0

    m = {}
    m["GraftSession.build_s"] = statistics.median(res["session_builds_s"])
    tables = [j for j in jobs("SparkEntry.construct") if "Tables.scala" in j["site"]]
    m["Tables.load_s"] = per_op(sum((j["end_ms"] - j["start_ms"]) / 1e3 for j in tables))
    m["Tables.load_jobs"] = per_op(len(tables))
    construct = sum(dur(s) for s in by_name.get("SparkEntry.construct", []))
    m["SparkEntry.construct_s"] = per_op(construct)
    m["SparkEntry.construct_jobs"] = per_op(len(jobs("SparkEntry.construct")))
    m["SparkEntry.construct_share"] = construct / sum(o["s"] for o in traced) if traced else 0.0
    for ph in ("analysis", "optimization", "planning"):
        m[f"GraftExtensions.{ph}_s"] = per_op(sum(o.get(f"{ph}_ms", 0.0) for o in traced) / 1e3)
    ex = stages("execution")
    exec_s = sum(dur(s) for s in by_name.get("execution", []))
    cpu_s = sum(s["cpu_ns"] for s in ex) / 1e9
    mb = 1024.0 * 1024.0
    m.update({
        "execution.exec_s": per_op(exec_s),
        "execution.jobs": per_op(len(jobs("execution"))),
        "execution.stages": per_op(len(ex)),
        "execution.tasks": per_op(sum(s["tasks"] for s in ex)),
        "execution.task_cpu_s": per_op(cpu_s),
        "execution.task_run_s": per_op(sum(s["run_ms"] for s in ex) / 1e3),
        "execution.gc_s": per_op(sum(s["gc_ms"] for s in ex) / 1e3),
        "execution.cpu_util": cpu_s / (exec_s * res["cpus"]) if exec_s else 0.0,
        "execution.shuffle_write_mb": per_op(sum(s["shuffle_write"] for s in ex) / mb),
        "execution.shuffle_read_mb": per_op(sum(s["shuffle_read"] for s in ex) / mb),
        "execution.spill_mb": per_op(sum(s["spill"] for s in ex) / mb),
        "execution.input_mb": per_op(sum(s["input"] for s in ex) / mb),
    })
    ann = [o for o in traced if o["kind"] == "ann_query"]
    bm = [o for o in traced if o["kind"] == "bm25_search"]
    writes = [o for o in traced if o["kind"] in ("append", "delete")]
    m["AnnIndex.query_s"] = med("AnnIndex.query")
    m["AnnIndex.query_jobs"] = per_call("AnnIndex.query", len(jobs("AnnIndex.query")))
    m["AnnIndex.live_files"] = res.get("ann_live_files", 0.0)
    m["AnnIndex.recall_at_10"] = statistics.mean(o["recall_at_10"] for o in ann) if ann else 0.0
    m["Bm25Index.search_s"] = med("Bm25Index.search")
    m["Bm25Index.search_jobs"] = per_call("Bm25Index.search", len(jobs("Bm25Index.search")))
    m["Bm25Index.live_files"] = res.get("bm25_live_files", 0.0)
    m["Bm25Index.stats_corrected_frac"] = (
        statistics.mean(o["stats_corrected"] for o in bm) if bm else 0.0)
    for layer in ("AnnIndex", "Bm25Index"):
        for verb in ("append", "delete", "compact"):
            m[f"{layer}.{verb}_s"] = med(f"{layer}.{verb}")
    m["IndexFiles.commits"] = float(sum(o["commits"] for o in writes))
    appended = sum(o["input_bytes"] for o in writes)
    m["IndexFiles.write_amp"] = sum(o["bytes_added"] for o in writes) / appended if appended else 0.0
    m["AnnIndex.build_s"] = res.get("AnnIndex.build_s", 0.0)
    m["Bm25Index.build_s"] = res.get("Bm25Index.build_s", 0.0)
    # index_churn's read, write and space sides, from the untraced window
    split = churn_split(res, untraced) if "index_bytes" in res else {}
    for k in ("probe_p50_s", "write_p50_s", "index_mb"):
        m[f"churn.{k}"] = split.get(k, 0.0)
    ups = len(untraced) / sum(net_seconds(o) for o in untraced)
    tps = len(traced) / sum(net_seconds(o) for o in traced) if traced else 0.0
    m["jvm.peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    m["trace.untraced_ops_per_s"] = ups
    m["trace.ops_per_s"] = tps
    m["trace.overhead_frac"] = 1.0 - tps / ups if ups else 0.0
    return m


def op_counts(res):
    """Jobs, stages and tasks of each traced operation, by query key."""
    op_of_span = {s["id"]: s["op"] for s in res["spans"]}
    key_of_op = {o["idx"]: o["key"] for o in res["ops"] if o["traced"]}
    out = {k: {"jobs": 0, "stages": 0, "tasks": 0} for k in key_of_op.values()}
    op_of_job = {}
    for j in res["jobs"]:
        if j["group"].startswith("span-"):
            op = op_of_span.get(int(j["group"][5:]))
            if op in key_of_op:
                op_of_job[j["id"]] = op
                out[key_of_op[op]]["jobs"] += 1
    for st in res["stages"]:
        if st["job"] in op_of_job:
            c = out[key_of_op[op_of_job[st["job"]]]]
            c["stages"] += 1
            c["tasks"] += st["tasks"]
    return out


UNITS = {"ops_per_s": "1/s", "_s": "s", "_jobs": "count", "_files": "count", "_mb": "MB",
         "_share": "frac", "_frac": "frac", "_at_10": "frac", "_util": "frac"}


def unit(name):
    """Unit of a per-layer metric, from its name (as BENCHMARK.json lists it)."""
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count" if name.split(".")[-1] in ("jobs", "stages", "tasks", "commits") else "ratio"


def write_spans(res, path):
    """Spans (name, start, end, parent, op), with each Spark job a child
    span of the span that started it."""
    with open(path, "w") as f:
        for s in res["spans"]:
            f.write(json.dumps({k: s[k] for k in ("id", "name", "start_ms", "end_ms",
                                                   "parent", "op")}) + "\n")
        by_id = {s["id"]: s for s in res["spans"]}
        for j in res["jobs"]:
            if j["group"].startswith("span-"):
                parent = by_id.get(int(j["group"][5:]))
                f.write(json.dumps({"id": f"job-{j['id']}", "name": f"job: {j['site']}",
                                    "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                                    "parent": parent["id"] if parent else -1,
                                    "op": parent["op"] if parent else -1}) + "\n")


# ---------------------------------------------------------------- main

def class_archive(root, workload):
    """JVM flags for the workload's class-data-sharing archive, and the
    archive's path when this run writes it. The archive holds the classes
    a run of the workload loads; later runs map them instead of loading
    them from the jars, which takes about 7 s off a `curation` run and 2 s
    off an `index_churn` run on a 4-vCPU VM. The first run of a workload
    after a build has no archive yet: it runs without one and writes it as
    its JVM exits (about 10 s)."""
    path = os.path.join(root, ".bench_build", "graft", f"classes-{workload}.jsa")
    if os.path.exists(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    return [f"-XX:ArchiveClassesAtExit={path}.tmp"], path


def execute(root, workload, seed, seconds, trace, plan=None, tag=""):
    """Builds if needed, runs the driver JVM on `plan` (by default the
    seed's plan for `workload`) and returns (result, work dir, data dir)."""
    if not os.path.isdir(os.path.join(root, "src", "main")):
        die("no graft sources under src/main: run from the repository root")
    jars = spark_jars(root)
    cp = build(root, jars)
    data = ensure_data(root)
    work = os.path.join(root, ".bench_out", f"{workload}-s{seed}-t{trace}{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "results"))
    if plan is None and workload == "index_churn":
        import pyarrow.parquet as pq
        n_emb = pq.ParquetFile(os.path.join(data, "embeddings.parquet")).metadata.num_rows
        n_doc = pq.ParquetFile(os.path.join(data, "documents.parquet")).metadata.num_rows
        plan = churn_plan(n_emb, n_doc, seed)
    elif plan is None:
        plan = query_plan(TPCH if workload == "tpch" else CURATION, seed)
    with open(os.path.join(work, "plan.tsv"), "w") as f:
        f.write(plan_text(plan))
    conf = {"workload": workload, "data": data, "work": work,
            "cpus": str(len(os.sched_getaffinity(0))), "seconds": str(seconds),
            "trace": str(trace), "setup_reps": str(SETUP_REPS),
            "recall_floor": str(RECALL_FLOOR), "plan": os.path.join(work, "plan.tsv"),
            "out": os.path.join(work, "result.json"),
            "conf_file": os.path.join(work, "driver.properties")}
    conf["stat0"] = steal_and_busy()  # set-up steal counts from here
    with open(conf["conf_file"], "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    flags, archive = class_archive(root, workload)
    t0 = time.time()
    heap = run_driver(jars, cp, conf, os.path.join(work, "driver.log"), flags)
    res = json.load(open(conf["out"]))
    res["heap"] = heap
    res["driver_wall_s"] = time.time() - t0
    res["class_archive"] = "written" if archive else "mapped"
    if archive:
        if os.path.exists(f"{archive}.tmp"):
            os.replace(f"{archive}.tmp", archive)
        else:
            print(f"perfbench: the JVM wrote no class archive; see {work}/driver.log",
                  file=sys.stderr)
    return res, work, data


def mark_checks(workload, res, work, data):
    """Sets each op's `check` to why its result is wrong (empty when right).
    The first call of a query key (a warm-up) is checked here on the rows
    it returned; the driver has already compared every later call's rows
    with them, and every op of a key whose warm-up went wrong fails too."""
    ops = res["ops"]
    if workload == "index_churn":
        errors = "; ".join(c["error"] for c in res["checks"])
        # the indexes' final live rows disagree with the model: some write went wrong
        for o in ops:
            if errors and o["kind"] in ("append", "delete"):
                o["check"] = errors
        return
    import check
    pinned = json.load(open(os.path.join(HERE, "expected_digests.json"))).get(f"sf{SCALE}", {})
    oracles = json.load(open(os.path.join(work, "results", "oracle_sql.json")))
    con, expected = check.connect(data), {}
    for o in res["warmups"]:
        if o["error"] or not o.get("written"):
            continue
        path = os.path.join(work, "results", f"{o['idx']}-t{int(o['traced'])}")
        o["check"] = check.check_key(con, o["key"], path, oracles, pinned, expected)
    bad_warmup = {w["key"]: w["error"] or w["check"] for w in res["warmups"]
                  if w["error"] or w["check"]}
    for o in ops:
        if not o["check"] and o["key"] in bad_warmup:
            o["check"] = f"warm-up: {bad_warmup[o['key']]}"


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run unwinds, so run_driver stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res, work, data = execute(os.getcwd(), a.workload, a.seed, a.seconds, a.trace)
    t0 = time.time()
    mark_checks(a.workload, res, work, data)
    res["check_wall_s"] = time.time() - t0
    ops = res["ops"]
    failed = [o for o in ops if o["error"] or o["check"]]
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]

    env = external_record(res)
    raw = [o["s"] for o in untraced]
    op_tail, pct = tail([net_seconds(o) for o in untraced])
    summary = {"workload": a.workload, "seed": a.seed, "scale": SCALE, "env": env,
               "driver_wall_s": res["driver_wall_s"], "check_wall_s": res["check_wall_s"],
               "wall_setup_s": setup_seconds(res),
               "wall_ops_per_s": len(raw) / sum(raw), "wall_op_p50_s": hd_median(raw),
               "sample_op_p50_s": statistics.median(net_seconds(o) for o in untraced),
               "op_tail_s": op_tail, "tail_percentile": pct, "samples": len(untraced),
               "failed_frac": len(failed) / len(ops),
               "failures": [{"op": o["idx"], "kind": o["kind"], "key": o["key"],
                             "error": o["error"] or o["check"]} for o in failed[:20]]}
    if a.workload == "index_churn":
        summary.update(churn_split(res, untraced))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in per_layer(res, untraced, traced).items()}
        write_spans(res, os.path.join(work, "spans.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res, untraced).items()}
    summary["metrics"] = metrics
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("env " + json.dumps(env))
    print("run " + json.dumps({k: v for k, v in summary.items()
                               if k not in ("workload", "seed", "scale", "env", "metrics")}))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
