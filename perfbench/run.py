"""The engine's benchmark: seeded workloads driven through public functions.

    python3 perfbench/run.py --workload carbon_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one client, closed loop:
the next call starts when the previous one returned.  The session is
``datayours_spark.session.get_spark`` unmodified (``local[N]`` with N from
SPARK_GRAFT_CPUS, else every core).  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the engine's layers in spans and prints the
per-layer metrics.  The last stdout line is the JSON result; the lines
before it are the human-readable report.  Details: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer  # noqa: E402

#: corpus_build's query list, in run order (ROADMAP items 2-3 act on these)
CORPUS_QUERIES = (
    "q_pipeline_payload", "q_ingest_pipeline", "q_ann_ivf", "q_ann_ivfpq_res",
    "q_dedup_minhash", "q_ngram_jaccard", "q_index_summary", "q_hybrid_rrf",
    "q_semdedup",
)
#: carbon_live runs maintenance (rollup refresh + compaction) every this
#: many cycles, always between triggers (no file pending)
MAINTENANCE_EVERY = 2
#: input generation is repeated this many times in set-up; setup_s
#: carries the median, so one slow repetition does not move it
SETUP_REPEATS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); (max, 100, n) below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), 100, n
    k = n - 11  # xs[k] has exactly ten samples above it
    return xs[k], math.floor(100 * (k + 1) / n), n


# ---------------------------------------------------------------- carbon_live


def carbon_live(spark, tr: Tracer, seed: int, seconds: float, work: str) -> dict:
    from datayours_spark import api, http, io
    from datayours_spark.kernel.rules import RewriteRule
    from datayours_spark.streaming.ingest import IngestPipeline

    res = _result()
    stage_dir, in_dir = f"{work}/stage", f"{work}/in"
    out_dir = f"{work}/out"
    os.makedirs(stage_dir)
    os.makedirs(in_dir)

    t0 = time.perf_counter()
    gen_times = []
    for _ in range(SETUP_REPEATS):  # the first two cycles' inputs, kept
        a = time.perf_counter()
        history: list = []
        first = [gen.carbon_file(seed, i, history) for i in range(2)]
        gen_times.append(time.perf_counter() - a)
    res["layers"]["setup.generate_s"] = median(gen_times)
    a = time.perf_counter()
    pipe = IngestPipeline(
        spark=spark, input_dir=in_dir, output_dir=out_dir,
        checkpoint_dir=f"{work}/ckpt", now_override=gen.NOW,
        rewrites=[RewriteRule(*gen.REWRITE)],
    )
    query = pipe.start()
    res["layers"]["setup.store_write_s"] = time.perf_counter() - a
    state = oracle.LiveState()

    tr.wrap(api, "render_grid", "api.render_grid")
    tr.wrap(api, "render", "api.render")
    tr.wrap(api, "render_json", "render.formats.encode")
    tr.wrap(api, "render_csv", "render.formats.encode")
    tr.wrap(http, "jsonify", "render.formats.encode")
    tr.wrap(http.GraphiteApp, "metrics_find", "operators.catalog.find")
    tr.wrap(http.GraphiteApp, "metrics_expand", "operators.catalog.find")

    changed: set = set()
    seen_jobs: set = set()

    def cycle(i: int, f, billed: bool) -> None:
        # -- write: one file, one trigger run to completion.  The file is
        # written beside the watched directory and renamed in, so the
        # source never lists a partial file.
        staged = os.path.join(stage_dir, f.name)
        with open(staged, "w") as fh:
            fh.write(f.text)
        before = _tree_stats(out_dir) if tr.enabled else None
        os.rename(staged, os.path.join(in_dir, f.name))
        with tr.span("streaming.ingest.trigger", trigger=i, cycle=i) as sp:
            a = time.perf_counter()
            query.processAllAvailable()
            wall = time.perf_counter() - a
        state.apply(f.admitted)
        changed.update(f.dates)
        if billed:
            res["samples"]["trigger"].append(wall)
            res["samples"]["admitted"].append(len(f.admitted))
        if sp is not None:
            after = _tree_stats(out_dir)
            sp["files_written"] = after[0] - before[0]
            sp["bytes_written"] = after[1] - before[1]
            sp["user_bytes"] = len(f.text.encode())
            sp["input_lines"] = f.text.count("\n")
            sp["admitted"] = len(f.admitted)
            progress = [p for p in query.recentProgress if p["batchId"] == i]
            sp["durationMs"] = progress[-1]["durationMs"] if progress else {}
            # the trigger's jobs run on the stream's thread, in its runId group
            jobs = tr.stream_jobs(str(query.runId)) - seen_jobs
            seen_jobs.update(jobs)
            sp.update(tr.job_counts(sorted(jobs)))

        # -- read: catalog from the stats table, then the cycle's requests
        with tr.span("stats.catalog", cycle=i):
            catalog = sorted(r["path"] for r in pipe.series_stats().select("path").collect())
        res["attempted"] += 1
        if catalog != state.catalog():
            res["errors"].append(f"cycle {i}: catalog {len(catalog)} paths, want {len(state.catalog())}")
        app = http.GraphiteApp(spark, pipe.datapoints(), step=60, now=gen.NOW)
        for k, req in enumerate(gen.cycle_reads(seed, i, catalog)):
            _request(app, tr, state, req, i, k, res, billed)

        # -- maintenance: rollups for the touched dates, then compaction
        if i % MAINTENANCE_EVERY == 0 and billed:
            a = time.perf_counter()
            with tr.span("operators.rollup.refresh", cycle=i):
                pipe.refresh_rollups(sorted(changed))
            with tr.span("io.compact", cycle=i):
                io.compact_datapoints(spark, f"{out_dir}/datapoints")
            res["samples"]["maintenance"].append(time.perf_counter() - a)
            changed.clear()

    a = time.perf_counter()
    cycle(0, first[0], billed=False)  # warm-up: a trigger and every read, unbilled
    res["layers"]["setup.warmup_s"] = time.perf_counter() - a
    res["setup_s"] = time.perf_counter() - t0 - sum(gen_times) + median(gen_times)

    # closed loop until the deadline, and at least up to the first
    # maintenance pass, so every run measures one
    deadline = time.perf_counter() + seconds
    i = 1
    while i <= MAINTENANCE_EVERY or time.perf_counter() < deadline:
        cycle(i, first[1] if i == 1 else gen.carbon_file(seed, i, history), billed=True)
        i += 1
    res["cycles"] = i - 1

    # final state against the generator's expected admitted set
    rows = pipe.datapoints().select("path", "ts_sec", "value").collect()
    stats_rows = pipe.series_stats().collect()
    err = oracle.check_store(state, rows, stats_rows)
    res["attempted"] += 1
    if err:
        res["errors"].append(err)
    query.stop()
    return res


def _request(app, tr: Tracer, state, req: dict, cycle: int, k: int, res: dict, billed: bool) -> None:
    """One WSGI call, timed from the call to the last body byte, then
    checked.  Warm-up calls are checked and counted but not timed."""
    from urllib.parse import urlencode

    if req["kind"] == "render":
        path = "/render"
        qs = {"target": req["target"], "format": req["format"],
              "from": req["from"], "until": req["until"]}
    else:
        path = f"/metrics/{req['kind']}"
        qs = {"query": req["target"]}
    environ = {"REQUEST_METHOD": "GET", "PATH_INFO": path, "QUERY_STRING": urlencode(qs)}
    status = []
    with tr.span("http.app", request=f"{cycle}.{k}", cycle=cycle) as sp:
        a = time.perf_counter()
        body = b"".join(app(environ, lambda s, h: status.append(s))).decode()
        wall = time.perf_counter() - a
    if req["kind"] == "render":
        want = state.render(req["target"], req["from"], req["until"], 60)
        if sp is not None:
            sp["points"] = sum(len(s) for _, s in want)
        err = None if status[0].startswith("200") else f"HTTP {status[0]}"
        err = err or oracle.check_render(body, req["format"], want)
    else:
        err = None if status[0].startswith("200") else f"HTTP {status[0]}"
        err = err or oracle.check_find(body, req["kind"], state.catalog(), req["target"])
    res["attempted"] += 1
    if billed:
        res["samples"]["render" if req["kind"] == "render" else "find"].append(wall)
    if err:
        res["errors"].append(f"{path} {qs}: {err}")


def _tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -------------------------------------------------------------- corpus_build


def corpus_build(spark, tr: Tracer, seed: int, seconds: float, work: str) -> dict:
    import __spark_entry__ as entry

    res = _result()
    t0 = time.perf_counter()
    gen_times, write_times = [], []
    for k in range(SETUP_REPEATS):
        a = time.perf_counter()
        tables = gen.corpus_tables(seed)
        b = time.perf_counter()
        gen.write_corpus(tables, f"{work}/corpus-{k}")
        gen_times.append(b - a)
        write_times.append(time.perf_counter() - b)
    res["layers"]["setup.generate_s"] = median(gen_times)
    res["layers"]["setup.store_write_s"] = median(write_times)
    total = sum(gen_times) + sum(write_times)
    res["setup_s"] = time.perf_counter() - t0 - total + median(gen_times) + median(write_times)
    queries, sqls = entry.queries(), entry.oracle_sql()
    check = oracle.CorpusOracle(f"{work}/corpus-0")

    # every pass reads its own copy of the inputs, so the session caches
    # (keyed by input directory) are cold and first-touch builds are billed
    deadline = time.perf_counter() + seconds
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        d = f"{work}/corpus-{p % SETUP_REPEATS}-pass{p}"
        shutil.copytree(f"{work}/corpus-{p % SETUP_REPEATS}", d)
        pass_s = 0.0
        for q in CORPUS_QUERIES:
            with tr.span("registry.construct", query=q, cycle=p):
                a = time.perf_counter()
                df = queries[q](spark, d)
                b = time.perf_counter()
            with tr.span("registry.action", query=q, cycle=p):
                rows = df.collect()
                c = time.perf_counter()
            res["samples"]["query"].append(c - a)
            res["samples"][f"{q}.construct"].append(b - a)
            res["samples"][f"{q}.action"].append(c - b)
            pass_s += c - a
            res["attempted"] += 1
            err = check.check(sqls[q], df.columns, rows)
            if err:
                res["errors"].append(f"{q}: {err}")
        res["samples"]["pass"].append(pass_s)
        p += 1
    res["cycles"] = p
    check.close()
    return res


# ----------------------------------------------------------------- reporting


def _result() -> dict:
    from collections import defaultdict

    return {"samples": defaultdict(list), "layers": {}, "errors": [], "attempted": 0}


def end_to_end(workload: str, res: dict, session_s: float) -> dict:
    """The gated metrics: the same names on every workload."""
    s = res["samples"]
    if workload == "carbon_live":
        call, batch = median(s["render"]), median(s["trigger"])
    else:
        # the nine calls are nine different queries: their median would be
        # whichever query ranks fifth, so the summary is the geometric mean
        call, batch = geomean(s["query"]), median(s["pass"])
    return {"setup_s": session_s + res["setup_s"], "call_s": call, "batch_s": batch}


def report(workload: str, res: dict, rss_mb: float) -> dict:
    """Every end-to-end figure the workload produces, by name (context for
    the reader; the gated subset is `end_to_end`)."""
    s = res["samples"]
    # not gated: the JVM's heap high-water mark moves with GC timing
    # (1.12-1.42 GB across carbon_live seeds on a 4-core host)
    out = {"peak_rss_mb": (rss_mb, "MB")}
    if workload == "carbon_live":
        for name, xs in (("render", s["render"]), ("trigger", s["trigger"])):
            v, pct, n = tail(xs)
            out[f"{name}_p50_s"] = (median(xs), "s")
            out[f"{name}_tail_s"] = (v, f"s@p{pct}/n={n}")
        out["find_p50_s"] = (median(s["find"]), "s")
        out["ingest_points_per_s"] = (sum(s["admitted"]) / max(sum(s["trigger"]), 1e-9), "1/s")
        out["maintenance_s"] = (median(s["maintenance"]), "s")
        out["cycles"] = (res["cycles"], "count")
    else:
        out["corpus_s"] = (median(s["pass"]), "s")
        for q in CORPUS_QUERIES:
            out[f"{q}_s"] = (median(s[f"{q}.construct"]) + median(s[f"{q}.action"]), "s")
        out["passes"] = (res["cycles"], "count")
    out["error_rate"] = (len(res["errors"]) / max(res["attempted"], 1), "ratio")
    return out


def per_layer(tr: Tracer, workload: str, res: dict, session_s: float) -> dict:
    """Per-layer figures from the spans.  Per-call values are medians over
    the run's calls, so a count repeats exactly when every call does the
    same work; a layer the workload does not run reports 0."""
    from collections import defaultdict

    out = defaultdict(float)
    out["session.start_s"] = session_s
    out.update(res["layers"])

    def named(name):  # measured calls only: cycle 0 is the warm-up
        return [s for s in tr.named(name) if s.get("cycle") != 0]

    def med(name, key):
        return median([s[key] for s in named(name)])

    def med_self(name):
        return median([tr.self_time(s) for s in named(name)])

    def dur(s):
        return s["end"] - s["start"]

    if workload == "carbon_live":
        out["http.self_s"] = med_self("http.app")
        out["api.render_grid_s"] = median([dur(s) for s in named("api.render_grid")])
        out["api.render_grid_jobs"] = med("api.render_grid", "jobs")
        out["operators.catalog.find_s"] = med_self("operators.catalog.find")
        out["operators.catalog.find_jobs"] = med("operators.catalog.find", "jobs")
        # the grid collect is what api.render does outside render_grid and
        # the encoder, so its figures are the api.render span's own
        collects = named("api.render")
        out["operators.fetch.collect_s"] = med_self("api.render")
        for key in ("jobs", "stages", "tasks", "shuffle_bytes"):
            out[f"operators.fetch.collect_{key}"] = med("api.render", key)
        points = {s["request"]: s.get("points", 0) for s in named("http.app")}
        out["operators.fetch.input_rows_per_point"] = median([
            s["input_records"] / points[s["request"]]
            for s in collects if points.get(s["request"])
        ])
        out["render.formats.encode_s"] = median(
            [dur(s) for s in named("render.formats.encode")]
        )
        out["stats.catalog_s"] = median([dur(s) for s in named("stats.catalog")])
        trig = named("streaming.ingest.trigger")

        def dms(*keys):
            return median([sum(s["durationMs"].get(k, 0) for k in keys) / 1000 for s in trig])

        out["streaming.ingest.add_batch_s"] = dms("addBatch")
        out["streaming.ingest.query_planning_s"] = dms("queryPlanning")
        out["streaming.ingest.offsets_s"] = dms("latestOffset", "getBatch")
        out["streaming.ingest.wal_s"] = dms("walCommit", "commitOffsets")
        out["streaming.ingest.jobs_per_trigger"] = median([s["jobs"] for s in trig])
        out["streaming.ingest.tasks_per_trigger"] = median([s["tasks"] for s in trig])
        out["streaming.ingest.shuffle_bytes_per_trigger"] = median([s["shuffle_bytes"] for s in trig])
        out["streaming.ingest.admit_ratio"] = sum(s["admitted"] for s in trig) / max(
            sum(s["input_lines"] for s in trig), 1
        )
        out["io.files_per_trigger"] = median([s["files_written"] for s in trig])
        out["io.compact_s"] = median([dur(s) for s in named("io.compact")])
        out["io.compact_jobs"] = med("io.compact", "jobs")
        out["operators.rollup.refresh_s"] = median([dur(s) for s in named("operators.rollup.refresh")])
        out["operators.rollup.refresh_jobs"] = med("operators.rollup.refresh", "jobs")
        out["io.bytes_written_per_user_byte"] = sum(s["bytes_written"] for s in trig) / max(
            sum(s["user_bytes"] for s in trig), 1
        )
    else:
        for phase in ("construct", "action"):
            spans = tr.named(f"registry.{phase}")
            for q in CORPUS_QUERIES:
                mine = [s for s in spans if s["query"] == q]
                out[f"registry.{q}.{phase}_s"] = median([dur(s) for s in mine])
                out[f"registry.{q}.{phase}_jobs"] = median([s["jobs"] for s in mine])
                if phase == "action":
                    out[f"registry.{q}.action_stages"] = median([s["stages"] for s in mine])
                    out[f"registry.{q}.shuffle_bytes"] = median(
                        [s["shuffle_bytes"] for s in mine]
                    )
            for key in ("s", "jobs"):
                out[f"registry.{phase}_{key}"] = sum(
                    out[f"registry.{q}.{phase}_{key}"] for q in CORPUS_QUERIES
                )
    return out


# ---------------------------------------------------------------- host facts


def cpu_probe() -> float:
    """bench.py's pure-Python CPU probe (imported: one probe everywhere)."""
    from bench import _cpu_probe_sec

    return _cpu_probe_sec()


def peak_rss_mb(pids) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each process in the trees under
    ``pids``: this Python process, the JVM and the JVM's Python workers."""
    out: dict[str, float] = {}
    todo = list(pids)
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue  # a worker that exited meanwhile
        if "VmHWM" in fields:  # absent for a child that already exited
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def spark_conf(spark) -> dict:
    keep = ("spark.master", "spark.sql.", "spark.driver.memory", "spark.default.parallelism")
    return {
        k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k.startswith(keep)
    }


# ---------------------------------------------------------------------- main

WORKLOADS = {"carbon_live": carbon_live, "corpus_build": corpus_build}


def main() -> int:
    ap = argparse.ArgumentParser(description="datayours_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [root, os.path.join(root, "tools")]
    # the engine is part of the checkout; without it there is nothing to run
    from datayours_spark.session import get_spark

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench_work", tag)
    out_dir = os.path.join(root, "perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # Spark's, the JVM's and Python's scratch space stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"])
    )

    context = {"probe_before_s": cpu_probe(), "cpus": os.cpu_count(),
               "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS")}
    a = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - a
    context["spark_conf"] = spark_conf(spark)
    gateway = spark.sparkContext._gateway
    tr = Tracer(spark, bool(args.trace))
    try:
        res = WORKLOADS[args.workload](spark, tr, args.seed, args.seconds, work)
        tr.resolve()
        context["peak_rss_mb"] = peak_rss_mb([os.getpid(), gateway.proc.pid])
        rss = sum(context["peak_rss_mb"].values())
    finally:
        tr.unwrap_all()
        spark.stop()
        _stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)
    context["probe_after_s"] = cpu_probe()

    # BENCHMARK.json is the one list of metric names and units
    values = end_to_end(args.workload, res, session_s)
    e2e = {m["name"]: (values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    figures = report(args.workload, res, rss)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "context": context, "errors": res["errors"][:20],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "samples": res["samples"],
        "figures": {k: v for k, (v, _) in figures.items()},
    }
    if args.trace:
        layers = per_layer(tr, args.workload, res, session_s)
        metrics = {m["name"]: (layers[m["name"]], m["unit"]) for m in spec["per_layer"]}
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        record["tracing_overhead"] = _overhead(out_dir, args, record)
        tr.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    else:
        metrics = e2e
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={context['cpus']} probes={context['probe_before_s']}/{context['probe_after_s']}")
    for name, (v, unit) in {**e2e, **figures}.items():
        print(f"{name:34s} {v:14.4f} {unit}")
    for err in res["errors"][:5]:
        print(f"ERROR {err}")
    if args.trace and record["tracing_overhead"]:
        print("tracing overhead (traced - untraced):", json.dumps(record["tracing_overhead"]))
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": len(res["errors"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _overhead(out_dir: str, args, record: dict) -> dict:
    """Traced minus untraced for every end-to-end metric, against the
    untraced run of the same workload and seed when one is on disk."""
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    return {k: v - base[k] for k, v in record["end_to_end"].items() if k in base}


def _stop_jvm(gateway) -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise


if __name__ == "__main__":
    sys.exit(main())
