"""Benchmark of the playlist ETL engine: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness with sbt (cached under ``.bench_build/`` by a hash of the
sources); every run generates its inputs from ``--seed``, runs the workload
in one JVM, checks the outputs and prints a summary. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). See ``perfbench/README.md``.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_playlists  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "build", "classes.jsa")
# A run must end within 180 s, so the harness is killed 170 s after set-up
# starts and the run exits non-zero with no metrics. On the seed tree that
# allows a slowdown of about 4.5x on table_lifecycle (the longest run, about
# 38 s) and more on the other workloads; a larger regression fails the run.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# ---- workload sizing (see README.md for how each was chosen)
# The timed phase is a fixed number of rounds: these counts at --seconds 10,
# scaled linearly with --seconds. A run does the same work every time, so a
# slower program makes the run longer (up to RUN_TIMEOUT_S), not smaller. One
# round is one batch run, one landed file, five table calls, or one pass over
# the query list.
ROUNDS_AT_10S = {"etl_batch": 8, "etl_stream": 8, "table_lifecycle": 4, "query_mix": 1}
ETL_BATCH_PAGES = 100
ETL_BATCH_WARM = 3
STREAM_RATE = 0.8          # files per second, open loop
STREAM_TRIGGER_MS = 100
STREAM_WARM = 3
TABLE_INIT_ROWS = 30000
TABLE_APPEND_ROWS = 3000
TABLE_MERGE_UPDATES = 1500
TABLE_MERGE_INSERTS = 500
TABLE_WARM = 2
TABLE_ROUNDS_MAX = 20      # warm-up plus timed rounds, for any --seconds up to 60
QUERY_DATA_SEED = 42       # query_mix inputs are fixed: the seed only orders
QUERY_SF = 0.1
QUERIES = [
    "q03_regional_revenue", "q17_asof_join", "q22_keepfirst_dedup",
    "d30_text_stats", "d40_dedup_exact", "d59_chunking",
    "e52_cosine_expr", "e71_power_iteration", "e77_embedding_health",
    "g75_degree_histogram",
]
EXPECTED_QUERIES = os.path.join(HERE, "expected_queries.json")

WORKLOADS = ("etl_batch", "etl_stream", "table_lifecycle", "query_mix")

# the end-to-end metrics BENCHMARK.json gates; end_to_end() also computes
# op_tail_ms and peak_rss_mb, which only the summary prints (README.md says why)
GATED = ("setup_s", "wall_s", "op_p50_ms")
PER_LAYER = [
    ("etl.batch.run_ms", "ms"), ("etl.batch.read_ms", "ms"),
    ("etl.transform.songs_ms", "ms"), ("etl.transform.artists_ms", "ms"),
    ("etl.transform.albums_ms", "ms"), ("etl.batch.write_ms", "ms"),
    ("etl.batch.jobs", "count"), ("etl.batch.shuffle_bytes_per_item", "B/item"),
    ("etl.batch.files_written", "count"),
    ("etl.stream.trigger_ms", "ms"), ("etl.stream.add_batch_ms", "ms"),
    ("etl.stream.latest_offset_ms", "ms"), ("etl.stream.wal_ms", "ms"),
    ("etl.stream.wait_ms", "ms"), ("etl.stream.jobs_per_batch", "count"),
    ("etl.stream.backlog_max", "count"), ("etl.stream.gen_late_ms", "ms"),
    ("ops.table.append_ms", "ms"), ("ops.table.merge_ms", "ms"),
    ("ops.table.delete_ms", "ms"), ("ops.table.read_ms", "ms"),
    ("ops.table.jobs_per_op", "count"), ("ops.table.gap_share", "ratio"),
    ("ops.table.versions", "count"), ("ops.table.files", "count"),
    ("ops.mview.refresh_ms", "ms"), ("ops.mview.jobs_per_refresh", "count"),
    ("ops.mview.gap_share", "ratio"),
    ("ops.pack.relational_ms", "ms"), ("ops.pack.corpus_ms", "ms"),
    ("ops.pack.similarity_ms", "ms"), ("ops.pack.graph_ms", "ms"),
    ("ops.pack.build_ms", "ms"), ("ops.pack.plan_ms", "ms"),
    ("ops.pack.exec_ms", "ms"), ("ops.pack.jobs_per_query", "count"),
    ("ops.pack.gap_share", "ratio"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.task_busy_share", "ratio"), ("spark.shuffle_bytes", "B"),
    ("spark.gc_ms", "ms"), ("spark.gap_ms", "ms"),
]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)
    sys.stderr.flush()


def fail(msg, code=1):
    log("error: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in tops:
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Build the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (expected build.sbt and src/main/scala)", 2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail("%s not found on PATH" % tool, 2)
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build", "stamp")
    cp_file = os.path.join(BUILD, "build", "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    log("building engine and harness with sbt (first run in this checkout)")
    shutil.rmtree(os.path.join(BUILD, "build"), ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "build"))
    with open(os.path.join(BUILD, "build", "sbt.log"), "w") as logf:
        code, out = _run_logged(
            ["sbt", "--batch", "-J-XX:+PerfDisableSharedMem", "-Dsbt.log.noformat=true", "-error",
             "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, capture=True, logf=logf)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail("sbt build failed (see .bench_build/build/sbt.log)")
    classpath = ":".join(_as_jar(p) for p in lines[-1].split(":"))
    _train_cds(classpath)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def _as_jar(entry):
    """Class-data sharing only archives classes that come from jars, so the
    compiled class directories are packed into jars under the build dir."""
    if not os.path.isdir(entry):
        return entry
    name = os.path.relpath(entry, ROOT).replace(os.sep, "_") + ".jar"
    jar = os.path.join(BUILD, "build", name)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirs, files in os.walk(entry):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, entry))
    return jar


def _train_cds(classpath):
    """One untimed run over tiny inputs that touches every layer, dumping the
    loaded classes into a class-data-sharing archive. Every measured run
    starts its JVM from that archive, which takes several seconds of class
    loading off each run's set-up, the same for every run. There is no path
    without the archive: the build fails if it is not made."""
    train = os.path.join(BUILD, "build", "train")
    pages, _ = gen_playlists.generate(0, 2)
    gen_playlists.write_pages(pages, os.path.join(train, "pages"))
    gen_tables.write(gen_tables.tables(0, 0.001), os.path.join(train, "tables"))
    args = {"dir": train, "queries": ",".join(QUERIES)}
    code = _java(classpath, "train", 1, 0, train, args,
                 ["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE], time.time() + BUILD_TIMEOUT_S)
    shutil.copy(os.path.join(train, "jvm.log"), os.path.join(BUILD, "build", "train.log"))
    shutil.rmtree(train, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS_ARCHIVE):
        fail("class-data-sharing training run failed (see .bench_build/build/train.log)")


def _run_logged(cmd, cwd, timeout, capture=False, logf=None):
    """Run ``cmd`` in its own process group; on timeout kill the group and
    wait for it. Returns (exit code, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE if capture else logf,
                         stderr=logf, stdin=subprocess.DEVNULL, start_new_session=True,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("%s timed out after %ds" % (cmd[0], timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if capture and logf is not None:
        logf.write(out or "")
    return p.returncode, out or ""


# ------------------------------------------------------------- workloads

def rounds(workload, seconds):
    n = max(1, round(ROUNDS_AT_10S[workload] * seconds / 10))
    return min(n, TABLE_ROUNDS_MAX - TABLE_WARM) if workload == "table_lifecycle" else n


def prepare(workload, seed, seconds, work):
    """Generate the inputs; return (harness args, context for the checks)."""
    if workload == "etl_batch":
        pages, facts = gen_playlists.generate(seed, ETL_BATCH_PAGES)
        gen_playlists.write_pages(pages, os.path.join(work, "in"))
        return ({"in": os.path.join(work, "in"), "out": os.path.join(work, "out"),
                 "warm": str(ETL_BATCH_WARM)},
                {"model": gen_playlists.batch_model(facts), "items": len(facts)})
    if workload == "etl_stream":
        pages, facts = gen_playlists.generate(seed, STREAM_WARM + rounds(workload, seconds))
        gen_playlists.write_pages(pages, os.path.join(work, "staged"))
        return ({k: os.path.join(work, k) for k in ("staged", "inbox", "out", "archive", "ckpt")}
                | {"rate": str(STREAM_RATE), "trigger-ms": str(STREAM_TRIGGER_MS),
                   "warm": str(STREAM_WARM)},
                {"facts": facts})
    if workload == "table_lifecycle":
        inputs = os.path.join(work, "inputs")
        tabs = {"init": gen_tables.lineitem_slice(seed, TABLE_INIT_ROWS)}
        rng = random.Random("table-%d" % seed)
        next_id = TABLE_INIT_ROWS
        for k in range(TABLE_WARM + rounds(workload, seconds)):
            tabs["r%d_append" % k] = gen_tables.lineitem_slice(
                seed * 1000 + 2 * k, TABLE_APPEND_ROWS, next_id)
            next_id += TABLE_APPEND_ROWS
            # updates hit live rows: no round's delete (id % 97 == round)
            # takes an id with id % 97 > TABLE_ROUNDS_MAX
            upd = [i for i in rng.sample(range(next_id), 2 * TABLE_MERGE_UPDATES)
                   if i % 97 > TABLE_ROUNDS_MAX][:TABLE_MERGE_UPDATES]
            ids = upd + list(range(next_id, next_id + TABLE_MERGE_INSERTS))
            merge = gen_tables.lineitem_slice(seed * 1000 + 2 * k + 1, len(ids))
            tabs["r%d_merge" % k] = merge.set_column(0, "l_id", pa.array(ids, pa.int64()))
            next_id += TABLE_MERGE_INSERTS
        gen_tables.write(tabs, inputs)
        return ({"inputs": inputs, "root": os.path.join(work, "table"),
                 "mv": os.path.join(work, "mview"), "warm": str(TABLE_WARM)},
                {"inputs": inputs})
    if workload == "query_mix":
        data = os.path.join(work, "data")
        gen_tables.write(gen_tables.tables(QUERY_DATA_SEED, QUERY_SF), data)
        order = list(QUERIES)
        random.Random("query-mix-%d" % seed).shuffle(order)
        return {"data": data, "queries": ",".join(order)}, {}
    fail("unknown workload %r (choose from %s)" % (workload, ", ".join(WORKLOADS)), 2)


def _java(classpath, workload, n_rounds, trace, work, hargs, jvm_extra, deadline):
    """Run the harness JVM; its output goes to ``work/jvm.log``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # PerfDisableSharedMem: the JVM keeps its perf counters in process
    # memory instead of a file in the system temp dir
    cmd = ["java", "-Xmx" + HEAP, "-XX:+PerfDisableSharedMem", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_extra
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--rounds", str(n_rounds), "--trace", str(trace),
            "--result", os.path.join(work, "result.json"),
            "--cores", str(os.cpu_count() or 1), "--scratch", work]
    for k, v in hargs.items():
        cmd += ["--" + k, v]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        code, _ = _run_logged(cmd, work, max(10, deadline - time.time()), logf=logf)
    return code


def run_harness(classpath, workload, seconds, trace, work, hargs, deadline):
    # -Xshare:on: a JVM that cannot map the archive exits instead of
    # starting without it
    cds = ["-XX:SharedArchiveFile=" + CDS_ARCHIVE, "-Xshare:on"]
    code = _java(classpath, workload, rounds(workload, seconds), trace, work, hargs, cds, deadline)
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail_lines = [ln for ln in fh.read().splitlines() if "WARN" not in ln][-30:]
        sys.stderr.write("\n".join(tail_lines) + "\n")
        fail("harness exited with code %d" % code)
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def run_checks(workload, res, ctx, work):
    """Return (ops attempted, ops failed, problems, extra summary metrics)."""
    ops = [s for s in res["spans"] if s[2] == "op"]
    attempted = len(ops)
    problems = [("%s: %s" % (c["name"], c["detail"])) for c in res["checks"] if not c["ok"]]
    failed = 0
    extra = {}
    if workload == "etl_batch":
        out_dir = os.path.join(work, "out")
        per_row = []
        for entry in res["runs"]:
            run, s, ar, al = entry.split(":")
            out = checks.read_run(out_dir, run)
            p = checks.check_star(out, ctx["model"])
            if [int(s), int(ar), int(al)] != [len(out["song"]), len(out["artist"]), len(out["album"])]:
                p.append("returned counts differ from the written rows")
            if p:
                failed += 1
                problems += ["%s: %s" % (run, x) for x in p]
            rows = sum(len(v) for v in out.values())
            run_dirs = [os.path.join(out_dir, "%s_data" % t, "run=%s" % run) for t in checks.TABLES]
            per_row.append(checks.stored_bytes(run_dirs) / max(1, rows))
        extra["stored_bytes_per_row"] = (statistics.median(per_row), "B")
        span = res["end"] - res["first_op"]
        extra["items_per_s"] = (ctx["items"] * len(res["runs"]) / (span / 1000.0), "1/s")
    elif workload == "etl_stream":
        out_dir = os.path.join(work, "out")
        facts = ctx["facts"]
        for b in res["batches"]:
            p = checks.check_star(checks.read_run(out_dir, b["batch"]),
                                  gen_playlists.page_model(facts, b["page"]))
            if p:
                failed += 1
                problems += ["batch %s: %s" % (b["batch"], x) for x in p]
    elif workload == "table_lifecycle":
        model = checks.TableModel(ctx["inputs"])
        for k in range(TABLE_WARM + int(res["rounds_done"])):
            model.round(k)
        want = model.digest()
        got = (int(res["count"]), int(res["hash"]))
        if want != got:
            problems.append("final read: (rows, hash) %s, model %s" % (got, want))
        if problems:
            failed = attempted
        rows = int(res["count"])
        extra["stored_bytes_per_row"] = (
            checks.stored_bytes([os.path.join(work, "table"), os.path.join(work, "mview")])
            / max(1, rows), "B")
    elif workload == "query_mix":
        expected = {}
        if os.path.exists(EXPECTED_QUERIES):
            with open(EXPECTED_QUERIES) as fh:
                expected = json.load(fh)["queries"]
        bad = set()
        for q, got in res["results"].items():
            want = expected.get(q)
            if "error" in got:
                bad.add(q)
                problems.append("%s: %s" % (q, got["error"]))
            elif want is None:
                bad.add(q)
                problems.append("%s: no recorded result" % q)
            elif (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
                bad.add(q)
                problems.append("%s: (rows, hash) (%s, %s), recorded (%s, %s)" % (
                    q, got["rows"], got["hash"], want["rows"], want["hash"]))
        failed = sum(1 for s in ops if s[4].split("#")[0] in bad)
    return attempted, failed, problems, extra


# --------------------------------------------------------------- metrics

def _ms(span):
    return span[6] - span[5]


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, setup_start_ms):
    ops = [_ms(s) for s in res["spans"] if s[2] == "op"]
    tail_v, tail_p, n = stats.tail(ops)
    m = {
        "setup_s": ((res["first_op"] - setup_start_ms) / 1000.0, "s"),
        "wall_s": ((res["end"] - res["first_op"]) / 1000.0, "s"),
        "op_p50_ms": (_p50(ops), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "peak_rss_mb": (int(res["peak_rss_kb"]) / 1024.0, "MB"),
    }
    return m, {"tail_percentile": tail_p, "samples": n}


def _jobs_in(jobs, a, b):
    return [j for j in jobs if j["start"] >= a and j["start"] < b]


def _gap_share(spans, jobs):
    total = sum(_ms(s) for s in spans)
    busy = sum(stats.union_ms([(j["start"], j["end"]) for j in jobs], s[5], s[6]) for s in spans)
    return (total - busy) / total if total else 0.0


def per_layer(res, work):
    spans = res["spans"]
    jobs = [dict(zip(("id", "start", "end", "tasks", "run_ms", "shuffle"), j))
            for j in res["jobs"]]
    by = {}
    for s in spans:
        by.setdefault(s[3], []).append(s)

    def p50(name):
        return _p50([_ms(s) for s in by.get(name, [])])

    def jobs_per(name):
        ss = by.get(name, [])
        return statistics.mean([len(_jobs_in(jobs, s[5], s[6])) for s in ss]) if ss else 0.0

    m = {k: 0.0 for k, _ in PER_LAYER}
    lo, hi = res["first_op"], res["end"]
    timed_jobs = _jobs_in(jobs, lo, hi)
    cores = int(res["cores"])
    m["spark.jobs"] = float(len(timed_jobs))
    m["spark.tasks"] = float(sum(j["tasks"] for j in timed_jobs))
    m["spark.task_busy_share"] = sum(j["run_ms"] for j in timed_jobs) / ((hi - lo) * cores)
    m["spark.shuffle_bytes"] = float(sum(j["shuffle"] for j in timed_jobs))
    m["spark.gc_ms"] = float(res["gc_ms"])
    m["spark.gap_ms"] = (hi - lo) - stats.union_ms([(j["start"], j["end"]) for j in jobs], lo, hi)
    wl = res["workload"]
    if wl == "etl_batch":
        runs = by.get("etl.batch.run", [])
        items = res["items"]
        # each transform span parses the landed JSON and drains one table to
        # noop; the run parses once per table too, so what a run spends
        # beyond the three spans is its writes (plus persist and count)
        m["etl.batch.run_ms"] = p50("etl.batch.run")
        m["etl.batch.read_ms"] = p50("etl.batch.read")
        gross = {t: p50("etl.transform.%s" % t) for t in ("songs", "artists", "albums")}
        for t, v in gross.items():
            m["etl.transform.%s_ms" % t] = v - m["etl.batch.read_ms"]
        m["etl.batch.write_ms"] = m["etl.batch.run_ms"] - sum(gross.values())
        m["etl.batch.jobs"] = jobs_per("etl.batch.run")
        m["etl.batch.shuffle_bytes_per_item"] = _p50(
            [sum(j["shuffle"] for j in _jobs_in(jobs, s[5], s[6])) / items for s in runs])
        m["etl.batch.files_written"] = _p50([
            sum(checks.data_files(os.path.join(work, "out", "%s_data" % t, "run=%s" % s[4]))
                for t in checks.TABLES) for s in runs])
    elif wl == "etl_stream":
        timed = {str(b["batch"]) for b in res["batches"]}
        prog = [json.loads(p) if isinstance(p, str) else p for p in res["stream_progress"]]
        prog = [p for p in prog if str(p["batchId"]) in timed and p["numInputRows"] > 0]
        d = lambda k: _p50([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
        m["etl.stream.trigger_ms"] = d("triggerExecution")
        m["etl.stream.add_batch_ms"] = d("addBatch")
        m["etl.stream.latest_offset_ms"] = d("latestOffset")
        m["etl.stream.wal_ms"] = d("walCommit")
        starts = {str(p["batchId"]): _epoch_ms(p["timestamp"]) for p in prog}
        m["etl.stream.wait_ms"] = _p50([starts[str(b["batch"])] - b["due"]
                                        for b in res["batches"] if str(b["batch"]) in starts])
        m["etl.stream.jobs_per_batch"] = _p50([
            len(_jobs_in(jobs, starts[str(b["batch"])], b["end"]))
            for b in res["batches"] if str(b["batch"]) in starts])
        m["etl.stream.backlog_max"] = float(res["backlog_max"])
        m["etl.stream.gen_late_ms"] = max(b["landed"] - b["due"] for b in res["batches"])
    elif wl == "table_lifecycle":
        for op in ("append", "merge", "delete", "read"):
            m["ops.table.%s_ms" % op] = p50("ops.table." + op)
        table_ops = [s for s in spans if s[3].startswith("ops.table.")]
        m["ops.table.jobs_per_op"] = statistics.mean(
            [len(_jobs_in(jobs, s[5], s[6])) for s in table_ops])
        m["ops.table.gap_share"] = _gap_share(table_ops, jobs)
        m["ops.table.versions"] = float(res["versions"])
        m["ops.table.files"] = float(res["files"])
        m["ops.mview.refresh_ms"] = p50("ops.mview.refresh")
        m["ops.mview.jobs_per_refresh"] = jobs_per("ops.mview.refresh")
        m["ops.mview.gap_share"] = _gap_share(by.get("ops.mview.refresh", []), jobs)
    elif wl == "query_mix":
        for fam in ("relational", "corpus", "similarity", "graph"):
            m["ops.pack.%s_ms" % fam] = p50("ops.pack." + fam)
        for part in ("build", "plan", "exec"):
            m["ops.pack.%s_ms" % part] = p50("ops.pack." + part)
        qops = [s for s in spans if s[2] == "op"]
        m["ops.pack.jobs_per_query"] = statistics.mean(
            [len(_jobs_in(jobs, s[5], s[6])) for s in qops])
        m["ops.pack.gap_share"] = _gap_share(qops, jobs)
    return m


def _epoch_ms(ts):
    from datetime import datetime
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000.0


def self_time_report(res):
    spans = [dict(zip(("id", "parent", "kind", "name", "run", "start", "end"), s))
             for s in res["spans"] if s[0] >= 0]
    return {k: {"total_ms": t, "self_ms": o, "count": c}
            for k, (t, o, c) in sorted(stats.self_times(spans).items())}


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-queries", action="store_true",
                    help="dev: write query_mix's check results to expected_queries.json")
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        fail("unknown workload %r (choose from %s)" % (a.workload, ", ".join(WORKLOADS)), 2)
    classpath = build()
    setup_start_ms = time.time() * 1000.0
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    hargs, ctx = prepare(a.workload, a.seed, a.seconds, work)
    inputs_ready_ms = time.time() * 1000.0
    res = run_harness(classpath, a.workload, a.seconds, a.trace, work, hargs, deadline)
    if a.workload == "etl_batch":
        res["items"] = ctx["items"]
    if a.record_queries and a.workload == "query_mix":
        with open(EXPECTED_QUERIES, "w") as fh:
            json.dump({"data_seed": QUERY_DATA_SEED, "sf": QUERY_SF,
                       "queries": res["results"]}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    attempted, failed, problems, extra = run_checks(a.workload, res, ctx, work)
    e2e, info = end_to_end(res, setup_start_ms)
    info["setup_parts"] = "inputs %.1f s, JVM and session %.1f s, warm-up %.1f s" % (
        (inputs_ready_ms - setup_start_ms) / 1000, (res["session_ready"] - inputs_ready_ms) / 1000,
        (res["first_op"] - res["session_ready"]) / 1000)
    for p in problems[:20]:
        log("check failed: " + p)
    print("workload %s  seed %d  cores %s  load %.2f  trace %d" % (
        a.workload, a.seed, res["cores"], os.getloadavg()[0], a.trace))
    for k, (v, u) in list(e2e.items()) + sorted(extra.items()):
        print("  %-22s %14.4f %s" % (k, v, u))
    print("  %-22s %14.4f ratio  (%d of %d ops)" % (
        "failed_frac", failed / max(1, attempted), failed, attempted))
    print("  op_tail_ms is p%s of %d samples; wall_s covers %d rounds" % (
        info["tail_percentile"], info["samples"], rounds(a.workload, a.seconds)))
    print("  set-up: %s" % info["setup_parts"])
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    e2e_plain = {k: v for k, (v, _) in e2e.items()}
    if a.trace == 0:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
        with open(os.path.join(results_dir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as fh:
            json.dump(e2e_plain, fh)
    else:
        layer = per_layer(res, work)
        units = dict(PER_LAYER)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        for k, v in layer.items():
            if v:
                print("  %-36s %14.4f %s" % (k, v, units[k]))
        overhead = _overhead(results_dir, a.workload, a.seed, e2e_plain)
        report = {"workload": a.workload, "seed": a.seed, "per_layer": layer,
                  "end_to_end_traced": e2e_plain, "tracing_overhead": overhead,
                  "self_time": self_time_report(res), "spans": res["spans"],
                  "jobs": res["jobs"], "stream_progress": res["stream_progress"]}
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(path, "w") as fh:
            json.dump(report, fh)
        print("  trace written to %s" % os.path.relpath(path, ROOT))
        if overhead:
            print("  tracing overhead (traced - untraced, untraced seed %s): %s" % (
                overhead["untraced_seed"], ", ".join(
                    "%s %+.4f" % (k, v) for k, v in overhead["delta"].items())))
        else:
            print("  tracing overhead: no untraced run of this workload in this checkout yet")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _overhead(results_dir, workload, seed, traced):
    """Traced minus untraced end-to-end values: the untraced run of the same
    seed when there is one, else the latest untraced run of the workload."""
    same = os.path.join(results_dir, "%s-seed%d.json" % (workload, seed))
    cands = [same] if os.path.exists(same) else sorted(
        (os.path.join(results_dir, f) for f in os.listdir(results_dir)
         if f.startswith(workload + "-seed")), key=os.path.getmtime)[-1:]
    if not cands:
        return None
    with open(cands[0]) as fh:
        base = json.load(fh)
    return {"untraced_seed": cands[0].rsplit("seed", 1)[1][:-5],
            "delta": {k: traced[k] - base[k] for k in traced if k in base}}


if __name__ == "__main__":
    sys.exit(main())
