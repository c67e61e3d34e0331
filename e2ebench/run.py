#!/usr/bin/env python3
"""End-to-end benchmark of the paper's entry points on the graft engine.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (NOTES.md says why each exists):

  topic_etl      PipelineExecutor.execute(topic, 100); every third request
                 repeats an earlier topic and is answered from the clean zone
  corpus_wizard  the full WordWizard chain, silhouette scan included, over a
                 seed-selected ~80% shard of `documents`

The tables are byte copies of the sf 0.1 and sf 0.001 fixture tables,
kept in e2ebench/data (SHA256SUMS lists them). The first run in a checkout
compiles the program with the benchmark (build.py, into .bench_build/e2ebench),
and reuses it while the sources are unchanged. The suite's expected row
counts (DuckDB running each query's oracle SQL on the sf 0.1 tables) are
in e2ebench/expected_counts.json, and are counted again when the program's
oracle SQL or the tables change. Every run then launches one JVM directly
from the built classpath with a fixed heap, warms up on inputs disjoint
from the timed ones, and runs the workload's op closed-loop (one client)
for --seconds. A traced run (--trace 1) instead runs a fixed number of untraced
and then traced ops and reports per-layer metrics; the traced run of
topic_etl also makes one traced pass of the 44-query suite.

Outputs are checked on every op: topic row counts against a model of the
fixture pages, repeat requests against their cold request, the wizard's
columns, rows, chosen k and medoids, and each query's row count against
DuckDB. The last stdout line is the JSON result; diagnostics (steal time,
load, cores, JVM flags, BLAS, per-op latencies) go to stderr. Exit codes:
0 ok, 1 failed check or run, 2 no program sources here, 3 build or oracle
counts failed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
from build import BUILD, build, java  # noqa: E402  (e2ebench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("topic_etl", "corpus_wizard")
DATA = os.path.join(HERE, "data")
DATA_DIR, WARM_DIR = os.path.join(DATA, "sf0.1"), os.path.join(DATA, "sf0.001")
COUNTS = os.path.join(HERE, "expected_counts.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
HEAP = "4g"
RUN_TIMEOUT_S = 170

# op kind whose latency is op_p50_s
MAIN_KIND = {"topic_etl": "cold", "corpus_wizard": "chain"}

QUERY_FAMILIES = {
    "relational": range(1, 15), "clean": [15], "nlp": range(16, 23),
    "dedup": [23, 24, 25, 26, 36, 38, 39, 40], "sim": [27, 28, 41],
    "textstats": [29, 30, 31, 32, 37], "multimodal": [33], "events": [34, 35],
    "sampling": [42, 43, 44],
}
QUERIES = [
    "q1_agg", "q2_join_revenue", "q3_filter_revenue", "q4_dedup_keep_last",
    "q5_distinct", "q6_topk_per_group", "q7_group_broadcast", "q8_union_dedup",
    "q9_coalesce_longest", "q10_word_count", "q11_regex_extract", "q12_md5",
    "q13_date_arith", "q14_argmax", "q15_clean", "q16_topics",
    "q17_weighted_ner", "q18_sentiment", "q19_medoids", "q20_medoids_pairwise",
    "q21_summarize_medoids", "q22_viz_frame", "q23_dedup_exact",
    "q24_minhash_sig", "q25_neardup_lsh", "q26_simhash", "q27_embed_neardup",
    "q28_ann_topk", "q29_lang_id", "q30_quality", "q31_token_count",
    "q32_fingerprint", "q33_binary_features", "q34_event_windows",
    "q35_session_windows", "q36_simhash_neardup", "q37_lemma_count",
    "q38_embed_dedup", "q39_neardup_groups", "q40_jaccard_blocked",
    "q41_ivf_topk", "q42_hash_split", "q43_stratified_sample",
    "q44_pack_sequences",
]
def qnum(q):
    return int(q[1:].split("_")[0])


# spans whose Spark task counters are reported
COUNTER_SPANS = ["pipeline.cold", "util.dense_index", "wizard.cluster", "wizard.reduce"] + [
    "queries." + q for q in QUERIES if qnum(q) in (24, 25, 36, 39, 40)]
COUNTERS = ["tasks", "gc_s", "shuffle_bytes", "spill_bytes"]

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "CPU.s")]


def per_layer_names():
    names = [("pipeline.cold_s", "s"), ("pipeline.hit_s", "s"), ("pipeline.jobs", "count"),
             ("pipeline.write_s", "s"),
             ("ingest.links_s", "s"), ("ingest.fetch_s", "s"), ("ingest.fetch_cpu_s", "CPU.s"),
             ("ingest.pages_ok", "count"), ("ingest.pages_failed", "count"),
             ("util.dense_index_s", "s"), ("util.dense_index_jobs", "count"),
             ("clean.s", "s"), ("clean.rows_in", "count"), ("clean.rows_out", "count"),
             ("clean.keep_frac", "1"),
             ("wizard.embed_s", "s"), ("wizard.embed_jobs", "count"),
             ("wizard.cluster_s", "s"), ("wizard.cluster_jobs", "count"),
             ("wizard.cluster_task_cpu_s", "CPU.s"), ("wizard.best_k", "count")]
    names += [("wizard.%s_s" % s, "s") for s in
              ("ner", "summarize", "sentiment", "topics", "reduce", "materialize")]
    names += [("queries.%s_s" % q, "s") for q in QUERIES]
    names += [("queries.%s_s" % f, "s") for f in QUERY_FAMILIES]
    names += [("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
              ("dedup.verify_ratio", "1")]
    for sp in COUNTER_SPANS:
        names += [("%s.tasks" % sp, "count"), ("%s.gc_s" % sp, "s"),
                  ("%s.shuffle_bytes" % sp, "bytes"), ("%s.spill_bytes" % sp, "bytes")]
    names += [("trace.overhead_frac", "1")]
    return names


def log(msg):
    print("[e2ebench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, log_path, timeout, env=None, cwd=None, keep_stdout=True):
    """Run cmd to completion in its own process group; stdout is returned
    (or logged too, without keep_stdout), stderr goes to log_path. The group
    is killed on timeout."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE if keep_stdout else err, stderr=err,
                             env=env, cwd=cwd, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, -9
    return out, p.returncode


def tail(path, n=25):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ---- data -------------------------------------------------------------------

def java_cmd(cp, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "e2ebench.Main"]


def spark_env(work):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_MASTER", None)
    return env


def expected_counts(cp):
    """Each query's expected row count: DuckDB running the query's oracle SQL
    on the sf 0.1 tables, keyed by a hash of that SQL and of the tables.
    expected_counts.json holds the counts for the oracle SQL it was made
    from; when the program's oracle SQL differs they are counted again
    (about 90 s) and kept under .bench_build."""
    oracle_json = os.path.join(BUILD, "oracle_sql.json")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    _, rc = run_logged(java_cmd(cp, BUILD) + ["oracle", oracle_json],
                       os.path.join(BUILD, "oracle.log"), 120)
    if rc != 0:
        fail("writing the oracle SQL failed:\n" + tail(os.path.join(BUILD, "oracle.log")), 3)
    oracle = json.load(open(oracle_json))
    key = tree_hash([DATA], json.dumps(oracle, sort_keys=True))
    built = os.path.join(BUILD, "expected_counts.json")
    for path in (COUNTS, built):
        if os.path.exists(path):
            saved = json.load(open(path))
            if saved["key"] == key:
                return saved["counts"]
    log("counting oracle results with DuckDB")
    import duckdb
    con = duckdb.connect(config={"enable_progress_bar": False})
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM parquet_scan('%s/%s.parquet')"
                    % (t, DATA_DIR, t))
    counts = {q: con.execute("SELECT count(*) FROM (%s)" % sql.strip().rstrip(";")).fetchone()[0]
              for q, sql in sorted(oracle.items())}
    con.close()
    with open(built, "w") as f:
        json.dump({"key": key, "counts": counts}, f, indent=1, sort_keys=True)
    return counts


# ---- host diagnostics -------------------------------------------------------

def host_sample():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return steal, load1


# ---- checks -----------------------------------------------------------------

PHONE_LIKE = re.compile(r"\+?\d[\d\s().-]{7,}\d")


def golden_topic_rows(topic, max_articles=100):
    """Clean rows of one topic as (fewest, most), modelled independently from
    the fixture link and page generators and the cleaner's rules:
    - every engine lists article-(i mod 50) for i < max_articles except every
      17th i; the keep-last dedup keeps a Yahoo row, for i or for i + 50;
    - a page fails when md5(url) starts with 'f0'..'f3', and otherwise holds
      3 + (value of md5 char 2 as a digit, clamped at 0) mod 4 paragraphs,
      all long enough and free of flagged content;
    - the title is the Yahoo result title when it is longer than the page
      headline, else the headline, which embeds md5(url)[:12] and is
      dropped when that holds a phone-number-like digit run.
    Which of the two Yahoo rows survives the dedup is not fixed, so a page
    whose title choice depends on it gives the two bounds."""
    q = re.sub(r"\s+", "-", topic.lower())
    ids = {}
    for i in range(max_articles):
        if i % 17 != 16:
            ids.setdefault(i % 50, []).append(i)
    lo = hi = 0
    for r, yahoo_ids in ids.items():
        h = hashlib.md5(("https://news.example.com/%s/article-%d" % (q, r)).encode()).hexdigest()
        if h[0] == "f" and h[1] < "4":
            continue
        n = 3 + max(ord(h[2]) - ord("0"), 0) % 4
        headline = "Fixture headline %s with enough length" % h[:12]
        keeps = {len("Yahoo result about %s #%d" % (topic, i)) > len(headline)
                 or not PHONE_LIKE.search(headline) for i in yahoo_ids}
        lo += n if all(keeps) else 0
        hi += n if any(keeps) else 0
    return lo, hi


def check_ops(rep, expected):
    """Mark each op ok/failed by its output checks; returns a list of errors."""
    errors = []
    cold = {}
    clusters = set()
    for i, o in enumerate(rep["ops"]):
        bad = [] if o["ok"] else ["raised " + o.get("error", "?")]
        if o["ok"] and o["kind"] == "cold":
            lo, hi = golden_topic_rows(o["topic"])
            if not lo <= o["rows"] <= hi:
                bad.append("topic %r: %d rows, golden %d..%d" % (o["topic"], o["rows"], lo, hi))
            cold[o["topic"]] = (o["rows"], o["checksum"])
        elif o["ok"] and o["kind"] == "hit":
            if (o["rows"], o["checksum"]) != cold.get(o["topic"]):
                bad.append("repeat of %r differs from its cold request" % o["topic"])
        elif o["ok"] and o["kind"] == "chain":
            if o["rows"] != rep["shard_rows"]:
                bad.append("%d rows, shard has %d" % (o["rows"], rep["shard_rows"]))
            if o["missing_columns"]:
                bad.append("missing columns %s" % o["missing_columns"])
            k = o["clusters"]
            if not 5 <= k <= 14:
                bad.append("k=%d outside the scan's [5, 14]" % k)
            # up to two medoids per cluster, every cluster has at least one
            if o["medoid_clusters"] != k or not k <= o["medoids"] <= 2 * k:
                bad.append("%d medoids in %d of %d clusters" % (o["medoids"], o["medoid_clusters"], k))
            clusters.add(k)
        elif o["ok"] and o["kind"] == "pass":
            for q, n in o["counts"].items():
                # q41 has no oracle SQL; it must only be non-empty
                want = expected.get(q)
                if n <= 0 or n != want and not (want is None and q == "q41_ivf_topk"):
                    bad.append("%s: %d rows, oracle %s" % (q, n, want))
        if bad:
            o["ok"] = False
            errors += ["op %d: %s" % (i, e) for e in bad]
    # only a traced run times two chains on one shard; a timed run has one
    if len(clusters) > 1:
        errors.append("best_k not stable across chains: %s" % sorted(clusters))
    return errors


# ---- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, rep, t_launch):
    ops = [o for o in rep["ops"] if o["ok"]]
    main = [o for o in ops if o["kind"] == MAIN_KIND[workload]]
    wall = sum(o["dur_s"] for o in rep["ops"])
    m = {
        "setup_s": rep["first_op_epoch_s"] - t_launch,
        "op_p50_s": median([o["dur_s"] for o in main]),
        "rows_per_s": sum(o["rows"] for o in ops) / wall if wall else 0.0,
        "cpu_s": median([o["cpu_s"] for o in main]),
    }
    diag = {"ops": len(rep["ops"]), "main_ops": len(main),
            "session_s": round(rep["session_epoch_s"] - t_launch, 3),
            "warmup_s": [round(w, 3) for w in rep["warmup_s"]],
            "op_s": [round(o["dur_s"], 3) for o in rep["ops"]],
            "op_jobs": [o["jobs"] for o in rep["ops"]]}
    hits = [o["dur_s"] for o in ops if o["kind"] == "hit"]
    if hits:
        diag["hit_p50_s"] = median(hits)
    durs = sorted(o["dur_s"] for o in main)
    if len(durs) >= 40:
        diag["op_p75_s"] = statistics.quantiles(durs, n=4)[2]
    return m, diag


def per_layer(workload, rep):
    """Per-layer metrics from the traced ops' spans and the Spark jobs each
    span owns (a job belongs to the innermost span open at its submission)."""
    tr = rep["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    ops = rep["ops"]
    traced_ops = {i for i, o in enumerate(ops) if o["traced"]}
    depth = {}
    for s in tr["spans"]:
        d, p = 0, s["parent"]
        while p >= 0:
            d, p = d + 1, spans[p]["parent"]
        depth[s["id"]] = d
    owned = {sid: [] for sid in spans}
    for j in tr["jobs"]:
        inside = [s for s in tr["spans"] if s["start_ms"] <= j["submit_ms"] <= s["end_ms"]]
        if inside:
            owner = max(inside, key=lambda s: (depth[s["id"]], s["start_ms"], s["id"]))
            owned[owner["id"]].append(j)

    def descendants(sid):
        out = [sid]
        for s in tr["spans"]:
            if s["parent"] in out:
                out.append(s["id"])
        return out

    def jobs_of(s):
        return [j for d in descendants(s["id"]) for j in owned[d]]

    def spans_named(name):
        return [s for s in tr["spans"] if s["name"] == name and s["op"] in traced_ops]

    def med_dur(name):
        return median([s["dur_s"] for s in spans_named(name)])

    def per_span(name, field=None):
        """Median over the named spans of their job count, or of a job field's sum."""
        vals = [len(jobs_of(s)) if field is None else sum(j[field] for j in jobs_of(s))
                for s in spans_named(name)]
        return median(vals)

    m = {n: 0.0 for n, _ in per_layer_names()}
    t_ops = [o for o in ops if o["traced"] and o["ok"]]
    kind = MAIN_KIND[workload]
    un = median([o["dur_s"] for o in ops if not o["traced"] and o["ok"] and o["kind"] == kind])
    tr_d = median([o["dur_s"] for o in t_ops if o["kind"] == kind])
    if un and tr_d:
        m["trace.overhead_frac"] = tr_d / un - 1.0
    for sp in COUNTER_SPANS:
        for c in COUNTERS:
            m["%s.%s" % (sp, c)] = per_span(sp, c)

    cold = [o for o in t_ops if o["kind"] == "cold" and "rows_in" in o]
    if cold:
        writes = tr["writes"]
        m.update({
            "pipeline.cold_s": med_dur("pipeline.cold"),
            "pipeline.hit_s": med_dur("pipeline.hit"),
            "pipeline.jobs": per_span("pipeline.cold"),
            "pipeline.write_s": median([
                sum((w["end_ms"] - w["start_ms"]) / 1e3 for w in writes
                    if s["start_ms"] <= w["start_ms"] <= s["end_ms"])
                for s in spans_named("pipeline.cold")]),
            "ingest.links_s": med_dur("ingest.links"),
            "ingest.fetch_s": med_dur("ingest.fetch"),
            "ingest.fetch_cpu_s": per_span("ingest.fetch", "cpu_s"),
            "ingest.pages_ok": median([o["pages_ok"] for o in cold]),
            "ingest.pages_failed": median([o["pages_failed"] for o in cold]),
            "util.dense_index_s": med_dur("util.dense_index"),
            "util.dense_index_jobs": per_span("util.dense_index"),
            "clean.s": med_dur("clean"),
            "clean.rows_in": median([o["rows_in"] for o in cold]),
            "clean.rows_out": median([o["rows_out"] for o in cold]),
        })
        if m["clean.rows_in"]:
            m["clean.keep_frac"] = m["clean.rows_out"] / m["clean.rows_in"]
    chains = [o for o in t_ops if o["kind"] == "chain"]
    if chains:
        m.update({
            "wizard.embed_s": med_dur("wizard.embed"),
            "wizard.embed_jobs": per_span("wizard.embed"),
            "wizard.cluster_s": med_dur("wizard.cluster"),
            "wizard.cluster_jobs": per_span("wizard.cluster"),
            "wizard.cluster_task_cpu_s": per_span("wizard.cluster", "cpu_s"),
            "wizard.best_k": median([o["clusters"] for o in chains]),
        })
        for s in ("ner", "summarize", "sentiment", "topics", "reduce", "materialize"):
            m["wizard.%s_s" % s] = med_dur("wizard." + s)
    passes = [o for o in t_ops if o["kind"] == "pass"]
    if passes:
        for q in QUERIES:
            m["queries.%s_s" % q] = med_dur("queries." + q)
        for f, nums in QUERY_FAMILIES.items():
            m["queries.%s_s" % f] = sum(m["queries.%s_s" % q] for q in QUERIES if qnum(q) in nums)
        m["dedup.candidate_pairs"] = median([o["candidate_pairs"] for o in passes])
        m["dedup.verified_pairs"] = median([o["verified_pairs"] for o in passes])
        if m["dedup.candidate_pairs"]:
            m["dedup.verify_ratio"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
    return m


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from a full checkout", 2)

    cp = build()
    # only the traced run of topic_etl runs the query suite
    expected = expected_counts(cp) if a.trace and a.workload == "topic_etl" else {}

    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    jvm_log = os.path.join(BUILD, "logs", "%s-trace%d.log" % (a.workload, a.trace))
    cmd = java_cmd(cp, work) + ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                DATA_DIR, WARM_DIR, work]
    steal0, load0 = host_sample()
    t_launch = time.time()
    out, rc = run_logged(cmd, jvm_log, RUN_TIMEOUT_S, env=spark_env(work))
    wall = time.time() - t_launch
    steal1, load1 = host_sample()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not out or not out.strip():
        fail("benchmark JVM failed (rc=%s):\n%s" % (rc, tail(jvm_log)), 1)
    rep = json.loads(out.strip().splitlines()[-1])

    errors = check_ops(rep, expected)
    attempted = len(rep["ops"])
    failed = sum(1 for o in rep["ops"] if not o["ok"])
    e2e, diag = end_to_end(a.workload, rep, t_launch)
    diag.update({"fail_frac": failed / attempted if attempted else 1.0,
                 "steal_s": round(steal1 - steal0, 2), "load1_before": load0,
                 "load1_after": load1, "cores": rep["cores"],
                 "cpu_affinity": len(os.sched_getaffinity(0)), "jvm_wall_s": round(wall, 2),
                 "heap": HEAP, "blas": rep["blas"], "jvm": " ".join(cmd[:5])})
    log("diagnostics " + json.dumps(diag, sort_keys=True))
    for e in errors:
        log("check failed: " + e)
    units = dict(END_TO_END)
    if a.trace:
        units = dict(per_layer_names())
        values = per_layer(a.workload, rep)
    else:
        values = e2e
    result = {"correct": not errors and attempted > 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
