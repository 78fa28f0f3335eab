#!/usr/bin/env python3
"""One benchmark run of the Reddit sentiment pipeline rebuild.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
JVM half of the benchmark from source (perfbench/build.sbt, which depends
on the root build); later runs reuse the build while the sources are
unchanged. Each run makes its inputs from --seed, measures for --seconds,
checks the program's outputs, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (see
perfbench/README.md for every name, unit and the workloads' rationale).

--cpus N sets Spark's local[N] (default 4; the README's single-threaded
baseline uses 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import numpy as np  # noqa: E402

import datagen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUNS = os.path.join(BENCH, ".runs")
JVM_TIMEOUT_S = 160

# rate: offered posts/s (reddit_*); the other workloads are closed loops
WORKLOADS = {
    "reddit_ref": {"rate": 100.0},
    "reddit_3k": {"rate": 3000.0},  # not gated; the single-threaded baseline
    "hub_ingest": {},
    "batch_sample": {},
}

# batch_sample: the reference's own query semantics (they cover the text,
# tfi and evt families), then one query for each other family of
# graft.Queries.families, in registry order, each the family's fastest in a
# cold sf0.01 pass: every graft.operators module runs
BATCH_QUERIES = [
    "q_parse_clean", "q_subreddit_stats", "q_avg_sentiment_by_lang",
    "q_top_keywords", "q_dedup_keep_last", "q_rolling_metric",
    "q_sql_surface", "q_bm25_scores", "q_dedup_exact", "q_embed_isotropy",
    "q_table_checksum", "q_skew_salted_agg", "q_asof_join", "q_train_split",
    "q_gopher_rules", "q_kmeans", "q_token_diversity", "q_cuped",
    "q_triangle_count", "q_dp_release", "q_calibration_bins",
    "q_media_features",
]
BATCH_SF = 0.01

HUB_DOCS = 5000
HUB_SLICES = 40
HUB_READOUTS = ["zipf", "registry", "bm25", "ablate", "mix", "pref"]
HUB_MAINTAINERS = ["vocab", "exactdedup", "index", "ablate", "mix", "pref"]

# open-loop validity: the generator's send lateness and the stream's backlog
LATE_P99_LIMIT_MS = 50.0
TRIGGER_S = 10.0

END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"),
              ("throughput_per_s", "1/s")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build compiles or is configured by."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/main/**/*"]
    files = sorted({f for p in pats
                    for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
            timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or "/" not in lines[-1]:
        die(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" +
            os.path.join(BENCH, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"]
    return cmd + args


# ---------------------------------------------------------------- inputs

def prepare(workload, seed, work):
    """Write the run's seeded inputs under `work`."""
    rng = np.random.default_rng([seed, 1])
    if workload.startswith("reddit"):
        docs = datagen.documents(rng, 200, first_id=10**9)
        with open(os.path.join(work, "warm_lines.txt"), "w") as f:
            for i in range(200):
                f.write(json.dumps({
                    "type": "submission", "subreddit": docs["lang"][i],
                    "id": f"w{i}", "text": docs["text"][i],
                    "created_utc": 1.7e9 + i, "author": docs["source"][i]})
                    + "\n")
    elif workload == "hub_ingest":
        import pyarrow as pa
        import pyarrow.parquet as pq
        hub = os.path.join(work, "hub")
        os.makedirs(os.path.join(hub, "slices"))
        cols = ["doc_id", "text", "lang", "source"]
        docs = pa.table(datagen.documents(rng, HUB_DOCS)).select(cols)
        # equal slices of seeded-shuffled documents: batch time is mostly
        # fixed per-batch work, so unequal slices would swing the rate
        docs = docs.take(pa.array(rng.permutation(HUB_DOCS)))
        per = HUB_DOCS // HUB_SLICES
        for s in range(HUB_SLICES):
            pq.write_table(docs.slice(s * per, per), os.path.join(
                hub, "slices", f"slice_{s:04d}.parquet"))
    elif workload == "batch_sample":
        datagen.write(os.path.join(work, "data"), seed, BATCH_SF)
        order = list(BATCH_QUERIES)
        rng.shuffle(order)
        with open(os.path.join(work, "queries.txt"), "w") as f:
            f.write("\n".join(order) + "\n")


# ---------------------------------------------------------------- metrics

def med(xs):
    return stats.median(xs) if xs else 0.0


def duck():
    import duckdb
    return duckdb.connect()


def reddit_metrics(raw, work, rate):
    """Post and batch latencies, checks and open-loop validity."""
    with open(os.path.join(work, "gen_summary.json")) as f:
        gen = json.load(f)
    win0, win1 = gen["window_start"], gen["window_end"]
    commit = {b["id"]: (b["start_ms"] + b["dur_ms"]) / 1000.0
              for b in raw["batches"]}
    start = {b["id"]: b["start_ms"] / 1000.0 for b in raw["batches"]}
    dur = {b["id"]: b["dur_ms"] / 1000.0 for b in raw["batches"]}
    out = raw["out"]
    con = duck()
    rows = con.execute(
        "SELECT id, created_utc, CAST(regexp_extract(filename, "
        "'_b(\\d+)\\.parquet', 1) AS BIGINT) AS b FROM read_parquet(?, "
        "filename=true)", [f"{out}/processed/*/*.parquet"]).fetchall()
    raw_rows = dict(con.execute(
        "SELECT CAST(regexp_extract(filename, '_b(\\d+)\\.parquet', 1) AS "
        "BIGINT) AS b, count(*) FROM read_parquet(?, filename=true) "
        "GROUP BY 1", [f"{out}/raw/*/*.parquet"]).fetchall())
    failures = list(raw["check_failures"])
    attempted = raw["checks_attempted"] + 2 + len(raw["batches"])

    # exactly-once: every sent post in exactly one snapshot, nothing else
    sent = {pid: (created, measured) for pid, created, measured in gen["posts"]}
    seen = {}
    for pid, _, b in rows:
        seen.setdefault(pid, []).append(b)
    missing = [p for p in sent if p not in seen]
    dup = [p for p, bs in seen.items() if len(bs) > 1]
    extra = [p for p in seen if p not in sent]
    if missing or dup or extra:
        failures.append(f"exactly-once: {len(missing)} missing, {len(dup)} "
                        f"duplicated, {len(extra)} unexpected posts")
    if not raw["stream_ok"]:
        failures.append("stream did not consume every generated line")

    # measured posts: creation (= due time) to their batch's commit
    lat, newest, per_batch = [], {}, {}
    for pid, bs in seen.items():
        if pid not in sent or not sent[pid][1]:
            continue
        b = bs[0]
        created = sent[pid][0]
        lat.append(commit[b] - created)
        newest[b] = max(newest.get(b, 0.0), created)
        per_batch[b] = per_batch.get(b, 0) + 1
    wb = sorted(per_batch)
    result_lat = [commit[b] - newest[b] for b in wb]
    busy = sum(dur[b] for b in wb)
    # backlog at each measured trigger: posts created before it fired that
    # no earlier batch had committed (its own batch plus any still in flight)
    created_all = sorted(c for c, _ in sent.values())
    batch_of = {pid: bs[0] for pid, bs in seen.items() if pid in sent}
    backlog, lag = [], []
    for b in wb:
        before = np.searchsorted(created_all, start[b])
        done = sum(1 for pid, bb in batch_of.items()
                   if bb < b and sent[pid][0] < start[b])
        backlog.append(int(before - done))
        lag.append(int(before - done - sum(
            1 for pid, bb in batch_of.items()
            if bb == b and sent[pid][0] < start[b])))
    delays = [start[b] - (win0 + TRIGGER_S * (i + 1)) for i, b in enumerate(wb)]
    late = gen["late_ms"]
    late_p99 = stats.percentile(late, 99)
    behind = late_p99 > LATE_P99_LIMIT_MS
    # sustainable only if every measured batch fits its trigger interval,
    # each trigger fired on schedule, and no more posts waited at a trigger
    # than one interval's worth
    grew = any(dur[b] > TRIGGER_S for b in wb) or \
        any(d > 1.0 for d in delays) or \
        any(x > 1.25 * rate * TRIGGER_S + 5 for x in backlog)
    if behind:
        failures.append(f"generator behind schedule: send lateness p99 "
                        f"{late_p99:.1f} ms")
    if grew:
        failures.append(f"backlog grew: {backlog} posts at the measured "
                        f"triggers, trigger delays {delays}")
    n = len(lat)
    valid = n > 0 and not behind and not grew and raw["stream_ok"]
    e2e = {}
    if valid:
        e2e = {"latency_p50_s": stats.median(lat),
               "throughput_per_s": n / busy}
    detail = {
        "posts_measured": n, "post_latency_p50_s": med(lat),
        "post_latency_p99_s": stats.percentile(lat, 99) if n else 0.0,
        "p99_supported": stats.supported(n, 99),
        # the highest percentile with ten samples beyond it
        "post_latency_tail": {str(p): stats.percentile(lat, p) for p in
                              [stats.highest_supported(n)] if p},
        "result_latency_p50_s": med(result_lat),
        "result_latency_samples": len(result_lat),
        "processing_rate_posts_per_s": n / busy if busy else 0.0,
        "backlog_posts": backlog, "trigger_delay_s": delays,
        "gen_late_p99_ms": late_p99, "gen_late_max_ms": max(late),
        "window": [win0, win1], "offered_rate": rate,
    }
    rows_in = sum(raw_rows.get(b, 0) for b in wb)
    layers = {
        "source.lag_posts_p50": med(lag),
        "source.posts_per_batch_p50": med([per_batch[b] for b in wb]),
        "source.backlog_end_posts": backlog[-1] if backlog else 0,
        "pipeline.rows_in": rows_in,
        "pipeline.rows_scored": sum(per_batch[b] for b in wb),
        "pipeline.rows_dropped": rows_in - sum(per_batch[b] for b in wb),
    }
    if raw.get("trace"):
        per = [raw["trace"]["batches"][str(b)] for b in wb]
        layers.update(op_layers(per, "batch_s"))
        for key, name in REDDIT_SHARES:
            layers[f"pipeline.share.{name}"] = med(
                [100.0 * p[key] / p["batch_s"] for p in per])
            detail[f"pipeline_{key}"] = med([p[key] for p in per])
    return e2e, detail, layers, attempted, 0, failures


def dir_files(path):
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def hub_metrics(raw):
    bs = raw["batches"]
    busy = sum(b["dur_ms"] for b in bs) / 1000.0
    # every batch admitted one slice of HUB_DOCS / HUB_SLICES documents
    rates = [HUB_DOCS // HUB_SLICES / (b["dur_ms"] / 1000.0) for b in bs]
    docs = HUB_DOCS // HUB_SLICES * len(bs)
    reads = [r["s"] for r in raw["readouts"]]
    comps = raw["compactions"]
    # the final readouts against their batch twins' oracles
    failures = oracle_check(raw["data"], raw["check_dir"], raw["twins"])
    failed_ops = raw["failed_ops"]
    attempted = len(bs) + len(reads) + len(comps) + failed_ops + \
        len(raw["twins"])
    e2e = {}
    if reads and busy and not failed_ops:
        e2e = {"latency_p50_s": stats.median(reads),
               "throughput_per_s": docs / busy}
    compact_s = sum(c["s"] for c in comps)
    detail = {"slices": raw["slices"], "docs": raw["docs"],
              "batches": len(bs), "busy_s": busy,
              "batch_rates": rates,
              "readout_p50_s": med(reads), "readout_samples": len(reads),
              "readout_s": {x["name"]: x["s"] for x in raw["readouts"]},
              "compactions": comps}
    layers = {
        # logs a compaction rewrote (fewer batch directories after it)
        "hub.compactions": sum(c["dirs_after"] < c["dirs_before"]
                               for c in comps),
        "hub.share.compact": 100.0 * compact_s / (busy + compact_s)
        if busy + compact_s else 0.0}
    for m in HUB_MAINTAINERS:
        n, size = dir_files(os.path.join(raw["base"], m))
        layers[f"hub.log_files.{m}"] = n
        layers[f"hub.log_bytes.{m}"] = size
    for x in raw["readouts"]:
        layers[f"readout.share.{x['name']}"] = 100.0 * x["s"] / sum(reads)
    if raw.get("trace"):
        per = list(raw["trace"]["batches"].values())
        layers.update(op_layers(per, "batch_s"))
        for key, name in [("driver_s", "driver")] + [
                (f"write_s.{m}", f"write.{m}") for m in HUB_MAINTAINERS]:
            layers[f"hub.share.{name}"] = med(
                [100.0 * p[key] / p["batch_s"] for p in per])
    return e2e, detail, layers, attempted, failed_ops, failures


def oracle_check(data, check, queries):
    """The scripts/check.py comparison: sorted columns, sorted rows, exact
    values (string compare where the two engines' dtypes differ)."""
    con = duck()
    for t in datagen.TABLES:
        src = f"{data}/{t}.parquet"
        if os.path.isdir(src):  # as Spark writes it: a directory of parts
            src += "/*.parquet"
        if glob.glob(src):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for q in queries:
        files = glob.glob(f"{check}/{q}/*.parquet")
        if not files or q not in oracle:
            fails.append(f"{q}: no output or no oracle")
            continue
        try:
            s = con.execute(f"SELECT * FROM '{check}/{q}/*.parquet'").df()
            o = con.execute(oracle[q]).df()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            fails.append(f"{q}: {e}")
            continue
        s = s.reindex(sorted(s.columns), axis=1)
        o = o.reindex(sorted(o.columns), axis=1)
        if list(s.columns) != list(o.columns) or len(s) != len(o):
            fails.append(f"{q}: shape {s.shape} vs oracle {o.shape}")
            continue
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
        for c in s.columns:
            sc, oc = s[c], o[c]
            if sc.dtype != oc.dtype:
                sc, oc = sc.astype(str), oc.astype(str)
            if not sc.equals(oc):
                fails.append(f"{q}: column {c} differs from the oracle")
                break
    return fails


def batch_metrics(raw):
    runs = raw["runs"]
    order = []
    for r in runs:
        if r["query"] not in order:
            order.append(r["query"])
    # per query, the fastest of its timed runs: the steady-state cost with
    # a noisy neighbour's stalls left out (graft.Bench's min-of-runs rule)
    per_q = {q: min([r["s"] for r in runs if r["query"] == q and r["ok"]],
                    default=0.0)
             for q in order}
    suite = sum(per_q.values())
    failures = oracle_check(raw["data"], raw["check_dir"], order)
    failed_ops = raw["failed_ops"]
    # the check pass's executions, the timed ones and the oracle compares
    attempted = len(order) + len(runs) + len(order)
    e2e = {}
    if not failed_ops and suite:
        e2e = {"latency_p50_s": stats.median(list(per_q.values())),
               "throughput_per_s": len(order) / suite}
    detail = {"suite_s": suite, "queries": len(order),
              "passes": max(r["pass"] for r in runs) + 1,
              "query_s": per_q}
    layers = {f"query.share.{q}": 100.0 * per_q[q] / suite
              for q in order if suite}
    if raw.get("trace"):
        tq = raw["trace"]["queries"]
        layers.update(op_layers([tq[q] for q in order], "s"))
        for q in order:
            layers[f"query_stages.{q}"] = tq[q]["stages"]
        for key in ["stages", "tasks", "shuffle_bytes", "input_bytes",
                    "spill_bytes"]:
            layers[f"suite.{key}"] = sum(tq[q][key] for q in order)
    return e2e, detail, layers, attempted, failed_ops, failures


# ---------------------------------------------------------------- names

def op_layers(per, secs_key):
    """Per-operation medians shared by every workload's traced run; an
    operation is a measured micro-batch or a query's first timed run."""
    return {"op.s_p50": med([p[secs_key] for p in per]),
            "op.task_cpu_s_p50": med([p["task_cpu_s"] for p in per]),
            "op.jobs_p50": med([p["jobs"] for p in per]),
            "op.stages_p50": med([p["stages"] for p in per]),
            "op.tasks_p50": med([p["tasks"] for p in per])}


# (trace key, name) of the pipeline's per-batch time split
REDDIT_SHARES = [
    ("empty_check_s", "empty_check"), ("parse_sentiment_s", "parse_sentiment"),
    ("raw_write_s", "raw_write"), ("snapshot_write_s", "snapshot_write"),
    ("sink_s.sentiment", "sink.sentiment"),
    ("sink_s.subreddit_stats", "sink.subreddit_stats"),
    ("sink_s.references", "sink.references"), ("driver_s", "driver")]


def per_layer():
    """Every per-layer metric a traced run prints, on every workload, as
    (name, unit, better). Times are per-operation medians that every
    workload has; a layer's part of an operation is a share in %, and
    reads 0 on a workload that does not exercise the layer."""
    out = [("op.s_p50", "s", "lower"), ("op.task_cpu_s_p50", "s", "lower"),
           ("op.jobs_p50", "count", "lower"),
           ("op.stages_p50", "count", "lower"),
           ("op.tasks_p50", "count", "lower"),
           ("source.lag_posts_p50", "count", "lower"),
           ("source.posts_per_batch_p50", "count", "lower"),
           ("source.backlog_end_posts", "count", "lower"),
           ("pipeline.rows_in", "count", "higher"),
           ("pipeline.rows_scored", "count", "higher"),
           ("pipeline.rows_dropped", "count", "lower")]
    out += [(f"pipeline.share.{n}", "%", "lower") for _, n in REDDIT_SHARES]
    out += [("hub.share.driver", "%", "lower")]
    out += [(f"hub.share.write.{m}", "%", "lower") for m in HUB_MAINTAINERS]
    out += [("hub.share.compact", "%", "lower"),
            ("hub.compactions", "count", "higher")]
    out += [(f"hub.log_files.{m}", "count", "lower") for m in HUB_MAINTAINERS]
    out += [(f"hub.log_bytes.{m}", "bytes", "lower") for m in HUB_MAINTAINERS]
    out += [(f"readout.share.{r}", "%", "lower") for r in HUB_READOUTS]
    out += [(f"query.share.{q}", "%", "lower") for q in BATCH_QUERIES]
    out += [(f"query_stages.{q}", "count", "lower") for q in BATCH_QUERIES]
    out += [("suite.stages", "count", "lower"), ("suite.tasks", "count", "lower"),
            ("suite.shuffle_bytes", "bytes", "lower"),
            ("suite.input_bytes", "bytes", "lower"),
            ("suite.spill_bytes", "bytes", "lower")]
    out += [("traced.setup_s", "s", "lower"),
            ("traced.latency_p50_s", "s", "lower"),
            ("traced.throughput_per_s", "1/s", "higher")]
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=4)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
    built_before = time.time()
    cp = classpath()
    # set-up time starts at process start, or after a build made by this run
    t0 = T0 if time.time() - built_before < 1.0 else time.time()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen = None
    try:
        prepare(a.workload, a.seed, work)
        cfg = WORKLOADS[a.workload]
        if "rate" in cfg:
            gen = subprocess.Popen(
                [sys.executable, os.path.join(BENCH, "generator.py"),
                 "--seed", str(a.seed), "--rate", str(cfg["rate"]),
                 "--seconds", str(a.seconds),
                 "--port-file", os.path.join(work, "port"),
                 "--summary", os.path.join(work, "gen_summary.json")],
                stdin=subprocess.PIPE, stdout=subprocess.DEVNULL)
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            r = subprocess.run(
                java_cmd(cp, work, ["--workload", a.workload, "--work", work,
                              "--seconds", str(a.seconds),
                              "--trace", str(a.trace), "--cpus", str(a.cpus),
                              "--t0", repr(t0)]),
                stdout=out, stderr=subprocess.STDOUT, cwd=work,
                timeout=JVM_TIMEOUT_S)
        if gen:
            gen.stdin.close()
            gen.wait(timeout=10)
        raw_file = os.path.join(work, "raw.json")
        if r.returncode != 0 or not os.path.exists(raw_file):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"JVM exited with {r.returncode}")
        with open(raw_file) as f:
            raw = json.load(f)
        if a.workload.startswith("reddit"):
            res = reddit_metrics(raw, work, cfg["rate"])
        elif a.workload == "hub_ingest":
            res = hub_metrics(raw)
        else:
            res = batch_metrics(raw)
        e2e, detail, layers, attempted, failed_ops, failures = res
        if raw["setup_s"] > 0:  # 0 when the run failed before its window
            e2e["setup_s"] = raw["setup_s"]
        detail["phases_s"] = dict(raw["phases"])
    finally:
        if gen and gen.poll() is None:
            gen.terminate()
            gen.wait(timeout=10)
        shutil.rmtree(work, ignore_errors=True)

    # every failed operation (batch, compaction, readout, query execution)
    # and every failed output check counts once against `attempted`
    failed = failed_ops + len(failures)
    detail["failed_ops"] = failed_ops
    detail["failures"] = failures
    os.makedirs(RUNS, exist_ok=True)
    key = f"{a.workload}-{a.seed}-cpus{a.cpus}"
    if a.trace:
        # tracing overhead: this traced run minus the untraced run of the
        # same workload and seed, when one is on file
        prev = os.path.join(RUNS, f"{key}-trace0.json")
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)["metrics"]
            detail["trace_overhead"] = {
                n: e2e[n] - base[n]["value"]
                for n, _ in END_TO_END if n in e2e and n in base}
        for n, _ in END_TO_END:
            layers[f"traced.{n}"] = e2e.get(n, 0.0)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u, _ in per_layer()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in END_TO_END if n in e2e}
    result = {"correct": failed == 0 and len(metrics) > 0,
              "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    with open(os.path.join(RUNS, f"{key}-trace{a.trace}.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
