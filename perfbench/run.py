"""Crawl benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Load is a closed loop with one client: this
process runs one crawl at a time on ``local[<cores>]`` and starts the next
only when the previous one has committed, for ``--seconds`` of timed crawl
time (at least one crawl). Set-up (session start and a warm-up crawl on a
small slice) runs ``N_SETUPS`` times before the timed loop; ``setup_s`` is
their median, and input generation is excluded from it. Every crawl's
output is checked against the oracles; any mismatch exits non-zero.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
timed loop, then one traced crawl and the per-layer probes, and prints the
per-layer metrics. The last line of stdout is the result JSON; the line
before it carries sample counts and percentiles.

Inputs are cached under ``.perfbench/cache``; scratch output goes to
``.perfbench/work`` and is removed at exit.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
TIMED_GROUP = "perfbench-timed"
N_SETUPS = 2  # setup_s is the median of this many set-ups in one run

# layer of each probe span; a layer's share is its self time over the probe
# spans of the layers the workload's crawl calls
LAYERS = {
    "urls.canon": "urls",
    "frontier.build": "frontier",
    "frontier.rank": "frontier",
    "frontier.bloom_build": "frontier",
    "frontier.unseen": "frontier",
    "frontier.bloom_fold": "frontier",
    "crawler.fetch": "crawler",
    "crawler.results_write": "crawler",
    "crawler.round_commit": "crawler",
    "extractors.stage": "extractors",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["replay", "discover", "recrawl"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate_scratch() -> None:
    """Keep every temporary file of this process, the JVM and workers inside
    the checkout."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"


def start_session(ncores: int):
    from reffy_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=ncores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _forget_compiled_udfs() -> None:
    """Module-level pandas UDFs cache their JVM function, which holds the
    stopped SparkContext's accumulator; drop it so the next use compiles
    the UDF under the new context."""
    for name, mod in list(sys.modules.items()):
        if name.split(".")[0] != "reffy_spark":
            continue
        for obj in vars(mod).values():
            udf = getattr(obj, "_unwrapped", None)
            if hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def _stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it, so no process of
    the run outlives it. The gateway exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _job_counts(sc) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(TIMED_GROUP)
    stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
    tasks = sum(i.numTasks for s in stages if (i := st.getStageInfo(s)))
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def timed_loop(w, seconds: float, sc) -> dict:
    """Crawl until ``seconds`` of timed crawl time have passed (at least
    once); check every crawl's outputs."""
    from perfbench import measure as M

    attempted = w.attempted()
    reps, errors = [], []
    failed = tried = 0
    cpu = {"jvm": 0.0, "python": 0.0}
    peak = 0
    timed = 0.0
    while not reps or timed < seconds:
        sc.setJobGroup(TIMED_GROUP, "timed crawl")
        c0 = M.cpu_by_side()
        try:
            with M.MemorySampler() as mem:
                run = w.crawl()
        except Exception:
            traceback.print_exc()
            run = None
        c1 = M.cpu_by_side()
        sc.setJobGroup("perfbench-untimed", "checks")
        tried += len(attempted)
        if run is None:
            failed += M.fail_accounting(attempted, None)
            errors.append("crawl raised")
            break
        timed += run["wall"]
        peak = max(peak, mem.peak)
        for k in cpu:
            cpu[k] += c1[k] - c0[k]
        cpu["python"] -= mem.cpu_s
        rows = w.result_rows(run)
        errors += w.check(run, rows)
        failed += M.fail_accounting(attempted, [(r["url_canon"], r["status"]) for r in rows])
        ok = sum(r["status"] == "ok" for r in rows)
        run.update(
            ok=ok,
            reused=sum(bool(r["from_fallback"]) for r in rows),
            durable_bytes=w.durable_bytes(run),
        )
        reps.append(run)
    return {
        "reps": reps, "errors": errors, "attempted": tried, "failed": failed,
        "cpu": cpu, "peak_mem": peak, "jobs": _job_counts(sc),
    }


def host_canary(spark, pages: list[tuple[str, bytes]]) -> dict:
    """Informational, gates nothing: a pure-Python extract_page loop and a
    pure-JVM aggregation, each the median of 5 timings. When these move
    between two runs of the same code, the host moved."""
    from reffy_spark.extractors.base import extract_page

    def py():
        for url, html in pages[:40]:
            extract_page(html, url, ["links", "headings", "ids", "dfns", "title"])

    def jvm():
        spark.range(0, 20_000_000, 1, 4).selectExpr("sum((id * 7) % 13)").collect()

    out = {}
    for name, fn in (("python", py), ("jvm", jvm)):
        times = []
        for _ in range(5):
            t = time.monotonic()
            fn()
            times.append(time.monotonic() - t)
        out[f"canary.{name}_s"] = statistics.median(times)
    return out


def end_to_end(loop: dict, setup_s: float) -> tuple[dict, dict]:
    from perfbench import measure as M

    reps = loop["reps"]
    walls = [r["wall"] for r in reps]
    rates = [r["ok"] / r["wall"] for r in reps]
    rounds = [x for r in reps for x in r["rounds"]]
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "urls_per_s": (statistics.median(rates), "URL/s"),
        "round_p50_s": (statistics.median(rounds), "s"),
    }
    detail = {
        "wall_s": M.percentile_report(walls),
        "wall_samples": walls,
        "urls_per_s": M.percentile_report(rates),
        "round_s": M.percentile_report(rounds),
        "peak_rss_mb": loop["peak_mem"] / 2**20,
        "fail_ratio": loop["failed"] / loop["attempted"],
    }
    return metrics, detail


def per_layer(w, loop: dict, setup: dict, ncores: int) -> tuple[dict, dict]:
    from perfbench import measure as M
    from perfbench import workloads as WL

    reps = loop["reps"]
    last = reps[-1]
    ok_total = sum(r["ok"] for r in reps)
    timed = sum(r["wall"] for r in reps)
    untraced_wall = statistics.median(r["wall"] for r in reps)

    tr = M.Tracer(run_id=f"{w.name}-{w.seed}-{os.getpid()}")
    with tr.span("crawl.traced"):
        traced = w.crawl(tracer=tr)
    with tr.span("probes"):
        probe = w.probe_layers(tr)
        with tr.span("probe.prep"):
            results = w.spark.read.parquet(traced["out"]).cache()
            results.count()
        with tr.span("crawler.results_write"):
            results.write.parquet(os.path.join(w.work, "rewrite"))
        results.unpersist()
    inproc = WL.inprocess_extraction(w.sample_pages())

    selfs = M.self_times(tr.spans)
    dur: dict[str, float] = {}
    layer_self: dict[str, float] = {}
    for s, st in zip(tr.spans, selfs):
        dur[s.name] = dur.get(s.name, 0.0) + s.dur
        if s.name in w.crawl_layers:
            layer_self[LAYERS[s.name]] = layer_self.get(LAYERS[s.name], 0.0) + st
    layer_total = sum(layer_self.values())
    crawl_span = tr.find("crawl.traced")
    crawl_idx = tr.spans.index(crawl_span)
    coverage = M.covered(
        (crawl_span.start, crawl_span.end),
        [(c.start, c.end) for c in tr.children(crawl_idx)],
    ) / crawl_span.dur

    m = {
        "session.start_s": (setup["start"], "s"),
        "session.warmup_s": (setup["warmup"], "s"),
        "urls.canon_s": (dur["urls.canon"], "s"),
        "frontier.build_s": (dur["frontier.build"], "s"),
        "frontier.rank_s": (dur["frontier.rank"], "s"),
        "frontier.bloom_build_s": (dur["frontier.bloom_build"], "s"),
        "frontier.bloom_fold_s": (dur["frontier.bloom_fold"], "s"),
        "frontier.unseen_s": (dur["frontier.unseen"], "s"),
        "frontier.candidates": (probe["frontier.candidates"], "count"),
        "frontier.maybe_seen": (probe["frontier.maybe_seen"], "count"),
        "frontier.new_urls": (probe["frontier.new_urls"], "count"),
        "frontier.new_ratio": (probe["frontier.new_ratio"], "ratio"),
        "frontier.bloom_fp_ratio": (probe["frontier.bloom_fp_ratio"], "ratio"),
        "crawler.fetch_s": (dur["crawler.fetch"], "s"),
        "crawler.fetch_hit_ratio": (probe["crawler.fetch_hit_ratio"], "ratio"),
        "crawler.reuse_ratio": (last["reused"] / last["ok"], "ratio"),
        "crawler.results_write_s": (dur["crawler.results_write"], "s"),
        "crawler.round_commit_s": (dur["crawler.round_commit"], "s"),
        "crawler.ckpt_bytes_per_url": (last["durable_bytes"] / last["ok"], "B/URL"),
        "extractors.stage_s": (dur["extractors.stage"], "s"),
        "extractors.pages_per_s": (
            probe["extractors.rows"] / dur["extractors.stage"], "page/s"
        ),
        "dom.parse_us": (inproc["dom.parse_us"]["p50"], "us"),
        "proc.python_core_s_per_kurl": (loop["cpu"]["python"] / (ok_total / 1e3), "s/kURL"),
        "proc.jvm_core_s_per_kurl": (loop["cpu"]["jvm"] / (ok_total / 1e3), "s/kURL"),
        "proc.cpu_util": (
            (loop["cpu"]["python"] + loop["cpu"]["jvm"]) / (timed * ncores), "ratio"
        ),
        "proc.peak_rss_mb": (loop["peak_mem"] / 2**20, "MB"),
        "spark.jobs": (loop["jobs"]["jobs"] / len(reps), "count"),
        "spark.stages": (loop["jobs"]["stages"] / len(reps), "count"),
        "spark.tasks": (loop["jobs"]["tasks"] / len(reps), "count"),
        "trace.wall_s": (traced["wall"], "s"),
        "trace.overhead_s": (traced["wall"] - untraced_wall, "s"),
        "trace.coverage": (coverage, "ratio"),
        "fail_ratio": (loop["failed"] / loop["attempted"], "ratio"),
    }
    for mod in ("links", "headings", "ids", "dfns", "title"):
        m[f"extractors.{mod}_us"] = (inproc[f"extractors.{mod}_us"]["p50"], "us")
    for layer in ("urls", "frontier", "crawler", "extractors"):
        m[f"share.{layer}"] = (layer_self.get(layer, 0.0) / layer_total, "ratio")
    detail = {
        "inprocess": inproc,
        "layer_self_s": layer_self,
        "spans": [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": st}
            for s, st in zip(tr.spans, selfs)
        ],
    }
    return m, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "reffy_spark")):
        print(f"perfbench: no reffy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _isolate_scratch()

    from perfbench import inputs as I
    from perfbench import workloads as WL
    sizes = I.Sizes()
    cache = os.path.join(STATE, "cache")
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    t = time.monotonic()
    I.cached(cache, WL.WORKLOADS[args.workload].kind, args.seed, sizes)
    gen_s = time.monotonic() - t

    ncores = len(os.sched_getaffinity(0))
    # Set up N_SETUPS times: start a session, load the tables, run the
    # warm-up crawl. The first set-up counts from process start (imports,
    # JVM launch); each later one stops the session and starts a new
    # SparkContext in the same JVM.
    setups, starts, warmups = [], [], []
    spark = None
    t0 = T_START + gen_s
    try:
        for i in range(N_SETUPS):
            if i:
                spark.stop()
                _forget_compiled_udfs()
                t0 = time.monotonic()
            spark = start_session(ncores)
            starts.append(time.monotonic() - t0)
            w = WL.WORKLOADS[args.workload](spark, cache, work, args.seed, sizes)
            w.prepare()
            t = time.monotonic()
            w.warmup()
            warmups.append(time.monotonic() - t)
            setups.append(time.monotonic() - t0)
        sc = spark.sparkContext
        setup_s = statistics.median(setups)
        setup = {"start": statistics.median(starts), "warmup": statistics.median(warmups)}

        loop = timed_loop(w, args.seconds, sc)
        correct = not loop["errors"]
        if args.trace and correct:
            metrics, detail = per_layer(w, loop, setup, ncores)
        else:
            metrics, detail = end_to_end(loop, setup_s) if correct else ({}, {})
        canary = host_canary(spark, w.sample_pages())
        if args.trace and correct:
            metrics.update({k: (v, "s") for k, v in canary.items()})
        detail.update(canary)
        detail.update(
            workload=args.workload, seed=args.seed, reps=len(loop["reps"]),
            gen_s=gen_s, setup_samples=setups, start_samples=starts,
            warmup_samples=warmups, errors=loop["errors"][:20],
        )
        print(json.dumps(detail, default=float))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": loop["attempted"],
                    "failed": loop["failed"],
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
