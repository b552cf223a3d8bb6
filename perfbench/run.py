#!/usr/bin/env python3
"""Extraction benchmark (see README.md).

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a details line, then as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones.  Inputs are cached under .perfbench/ in the working tree.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
GOLDENS = os.path.join(ROOT, "tests", "goldens", "archetypes_200.json")

WORKLOADS = ("crawl_mix", "warc_commit")
# extract_pages' repartition(nb, bucket_id) hashes the bucket ids again, so
# fewer partitions than buckets get rows: at 3 slots, 6 of 12 (4, 4, 1, 1,
# 1, 1 buckets) and 3 of 6 (3, 2, 1).  crawl_mix is bound by per-doc CPU and
# uses 4 buckets a slot; warc_commit is bound by per-task and per-job cost,
# and 2 a slot keep its run short.
BUCKETS_PER_SLOT = {"crawl_mix": 4, "warc_commit": 2}
# Spark slots: one CPU fewer than this process may use, at most 3.  The
# gateway JVM's own threads (Arrow conversion, shuffle) and the driver run
# beside the Python workers; at local[4] on 4 vCPUs passes were slower and
# spread more from one to the next
MAX_SLOTS = 3
# restarts of the session in the running JVM, after the first start, per
# untraced run; setup_s is their median.  Each costs 3 to 5 s; two keep a
# run near a minute
SETUPS = 2
# untimed passes after the verified one: the first pass after it still ran
# 10 to 15% slower than the ones that follow, on both workloads
WARMUP_PASSES = 1
CHECK_MOD = 2**31 - 1


def declared_units(kind: str) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def fields() -> tuple[str, ...]:
    """Output columns every check covers: the url and its digest fields."""
    from workloads import DIGEST_FIELDS

    return ("url", *DIGEST_FIELDS)


def checksum_col():
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*fields()), F.lit(CHECK_MOD))


def check_rows(rows, ref: dict[str, str]) -> int:
    """Mismatching, duplicated or missing urls among collected rows."""
    from workloads import digest

    seen = set()
    bad = 0
    for r in rows:
        if r.url in seen or ref.get(r.url) != digest(r):
            bad += 1
        seen.add(r.url)
    return bad + len(set(ref) - seen)


def preflight(spark, golden_dir: str, nb: int, goldens: dict, tally: Tally) -> None:
    """generate_pages(200, 42) through extract_pages, against the committed
    archetype goldens (same fields as tests/test_goldens.py).  Its tasks
    also start every Python worker."""
    from contentextractor_spark.plans.pipeline import extract_pages

    spark.sparkContext.setJobGroup("preflight", "golden pre-flight")
    rows = extract_pages(spark.read.parquet(golden_dir), num_buckets=nb).select(*fields()).collect()
    bad = 0
    for r in rows:
        want = goldens.get(r.url)
        if (
            want is None
            or hashlib.sha256(r.main_text.encode()).hexdigest() != want["main_text_sha256"]
            or r.title != want["title"]
            or len(r.spans) != want["n_spans"]
            or r.threshold != want["threshold"]
            or r.status != want["status"]
        ):
            bad += 1
    bad += len(set(goldens) - {r.url for r in rows})
    tally.add(len(goldens), min(bad, len(goldens)))


def verify(runner, ref: dict[str, str], tally: Tally) -> tuple[int, int]:
    """Untimed first pass, which also warms the stages up: every url of its
    output is checked against the reference digests.  Returns the (count,
    checksum) each timed pass must reproduce."""
    rows, lineage_ok = runner.verify("verify")
    bad = min(check_rows(rows, ref), len(ref)) if lineage_ok else len(ref)
    tally.add(len(ref), bad)
    return len(rows), sum(r.c for r in rows)


class CrawlMix:
    """pages table → extract_pages → checksum sink (count + per-row hash sum,
    as cheap as a noop sink but it lets every timed pass be checked)."""

    def __init__(self, spark, path: str, nb: int, tmp: str):
        self.spark = spark
        self.nb = nb
        self.pages = spark.read.parquet(os.path.join(path, "pages"))

    def _extracted(self):
        from contentextractor_spark.plans.pipeline import extract_pages

        return extract_pages(self.pages, num_buckets=self.nb)

    def verify(self, tag: str):
        self.spark.sparkContext.setJobGroup(tag, "verify")
        return self._extracted().select(*fields(), checksum_col().alias("c")).collect(), True

    def run_pass(self, tag: str, probe: dict | None) -> tuple[int, int]:
        from pyspark.sql import functions as F

        self.spark.sparkContext.setJobGroup(tag, "timed pass")
        row = self._extracted().agg(F.count(F.lit(1)), F.sum(checksum_col())).first()
        return row[0], row[1]


class WarcCommit:
    """archive segments → warc_to_pages → run_extraction over half the
    buckets (a crashed run) → run_extraction over everything (the resume) →
    read of the committed output."""

    def __init__(self, spark, path: str, nb: int, tmp: str):
        self.spark = spark
        self.nb = nb
        self.tmp = tmp
        self.segments = os.path.join(path, "segments")

    def _pages(self):
        from contentextractor_spark.sources.warc import warc_to_pages

        return warc_to_pages(self.spark.read.parquet(self.segments))

    def _bucket(self):
        from pyspark.sql import functions as F

        from contentextractor_spark.plans.pipeline import SALT_SEED

        return F.pmod(F.xxhash64(F.col("url"), F.lit(SALT_SEED)), F.lit(self.nb))

    def _commit(self, tag: str, probe: dict | None):
        from contentextractor_spark.plans.pipeline import resume_filter, run_extraction

        sc = self.spark.sparkContext
        out = os.path.join(self.tmp, f"{tag}-out")
        lin = os.path.join(self.tmp, f"{tag}-lineage")
        pages = self._pages()
        sc.setJobGroup(f"{tag}.first", "half the buckets")
        run_extraction(self.spark, pages.where(self._bucket() < self.nb // 2), out, lin, self.nb)
        if probe is not None:
            sc.setJobGroup(f"probe.{tag}.resume_filter", "resume filter alone")
            t0 = time.perf_counter()
            left = resume_filter(pages, self.spark.read.parquet(lin), self.nb).count()
            probe.setdefault("resume_filter_s", []).append(time.perf_counter() - t0)
            probe.setdefault("resume_left", []).append(left)
        sc.setJobGroup(f"{tag}.resume", "resume over all buckets")
        committed, lineage = run_extraction(self.spark, pages, out, lin, self.nb)
        sc.setJobGroup(f"{tag}.read", "committed read")
        return committed, lineage

    def verify(self, tag: str):
        committed, lineage = self._commit(tag, None)
        rows = committed.select(*fields(), checksum_col().alias("c")).collect()
        lineage = lineage.select("bucket_id", "row_count").collect()
        # one commit record per bucket, covering every committed row
        lineage_ok = len({r.bucket_id for r in lineage}) == len(lineage) and sum(
            r.row_count for r in lineage
        ) == len(rows)
        return rows, lineage_ok

    def run_pass(self, tag: str, probe: dict | None) -> tuple[int, int]:
        from pyspark.sql import functions as F

        committed, _ = self._commit(tag, probe)
        t0 = time.perf_counter()
        row = committed.agg(F.count(F.lit(1)), F.sum(checksum_col())).first()
        if probe is not None:
            probe.setdefault("read_committed_s", []).append(time.perf_counter() - t0)
        return row[0], row[1]

    def warc_probe(self, probe: dict) -> None:
        from pyspark.sql import functions as F

        self.spark.sparkContext.setJobGroup("probe.warc_to_pages", "ingest alone")
        t0 = time.perf_counter()
        n = self._pages().agg(F.count(F.lit(1)), F.sum(F.length("html"))).first()[0]
        probe["warc_to_pages_s"] = time.perf_counter() - t0
        probe["warc_records"] = n


RUNNERS = {"crawl_mix": CrawlMix, "warc_commit": WarcCommit}


def run(args, tmp: str) -> tuple[dict, dict]:
    import hostspeed
    import sparkside
    import spans
    import workloads

    slots = max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0)) - 1))
    nb = BUCKETS_PER_SLOT[args.workload] * slots
    # wall time of each phase of the run, for the details line
    phase_s: dict[str, float] = {}
    phase_start = time.perf_counter()

    def phase(name: str) -> None:
        """Charge the time since the previous call to ``name``."""
        nonlocal phase_start
        now = time.perf_counter()
        phase_s[name] = phase_s.get(name, 0.0) + now - phase_start
        phase_start = now

    host_start = sparkside.host_info()
    jiffies_start = sparkside.cpu_jiffies()
    cache = os.path.join(WORK, "inputs")
    path = workloads.prepare(args.workload, args.seed, cache)
    golden_dir = workloads.prepare_golden(cache)
    with open(GOLDENS, encoding="utf-8") as f:
        goldens = json.load(f)
    ref = workloads.reference_digests(args.workload, args.seed, path)
    tally = Tally()
    metrics: dict[str, float] = {}
    phase("inputs")

    if args.trace:
        urls, htmls = workloads.read_docs(path)
        tracer, results, untraced_s, traced_s = spans.replay(htmls)
        bad = sum(ref.get(u) != workloads.digest(r) for u, r in zip(urls, results))
        tally.add(len(urls), bad)
        metrics.update(spans.layer_metrics(tracer, results, untraced_s, traced_s))
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        del tracer, results
        rss = None
        phase("replay")
    else:
        rss = sparkside.RssSampler()
        rss.start()

    spark = None
    host_probe = None
    setups: list[float] = []
    # (wall s, docs, host speed) per timed pass
    passes: list[tuple[float, int, float]] = []
    pass_rss_mb: list[float] = []
    probe: dict | None = {} if args.trace else None
    try:
        # the first start launches the JVM and warms it and the Python
        # workers up, and is timed apart; setup_s times only restarts in
        # that JVM, so it compares like with like
        t0 = time.perf_counter()
        spark = sparkside.start_session(slots)
        preflight(spark, golden_dir, 2 * slots, goldens, tally)
        cold_start_s = time.perf_counter() - t0
        phase("cold_start")
        for _ in range(0 if args.trace else SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = sparkside.start_session(slots)
            preflight(spark, golden_dir, 2 * slots, goldens, tally)
            setups.append(time.perf_counter() - t0)

        phase("setups")
        runner = RUNNERS[args.workload](spark, path, nb, tmp)
        expected = verify(runner, ref, tally)
        phase("verify")
        for i in range(WARMUP_PASSES):
            got = runner.run_pass(f"warmup{i}", None)
            tally.add(len(ref), 0 if got == expected else len(ref))

        # the host-speed probe runs before the first timed pass and after
        # each; its own time does not count against --seconds
        if not args.trace:
            host_probe = hostspeed.Probe(slots)
            rss.exclude = host_probe.pids()
            speed = host_probe.measure()
        phase("warmup")
        deadline = time.perf_counter() + args.seconds
        while True:
            tag = f"pass{len(passes)}"
            if rss is not None:
                rss.mark()
            t0 = time.perf_counter()
            got = runner.run_pass(tag, probe)
            wall = time.perf_counter() - t0
            if rss is not None:
                pass_rss_mb.append(rss.mark())
            tally.add(len(ref), 0 if got == expected else len(ref))
            if host_probe is not None:
                t1 = time.perf_counter()
                before, speed = speed, host_probe.measure()
                deadline += time.perf_counter() - t1
                passes.append((wall, got[0], (before + speed) / 2))
            else:
                passes.append((wall, got[0], 1.0))
            if time.perf_counter() >= deadline:
                break
        phase("timed")

        if args.trace:
            if args.workload == "warc_commit":
                runner.warc_probe(probe)
            api = sparkside.StatusApi(spark)
            metrics.update(spark_layer_metrics(api, len(passes), slots, probe, len(ref)))
            if args.workload == "crawl_mix":
                metrics.update(stream_metrics(spark, path, tmp, 2 * slots, ref, tally))
            else:  # the stream pass runs on crawl_mix's pages only
                metrics.update(
                    {n: 0.0 for n in declared_units("per_layer") if n.startswith("stream.")}
                )
            metrics["session.cold_start_s"] = cold_start_s
            metrics["jvm.heap_peak_mb"] = api.heap_peak_bytes() / 2**20
            phase("layers")
    finally:
        if host_probe is not None:
            host_probe.close()
        started = set(sparkside.process_tree(os.getpid())) - {os.getpid()}
        if spark is not None:
            spark.stop()
        sparkside.shutdown_jvm()
        sparkside.wait_gone(started)
        if rss is not None:
            rss.stop()
    phase("teardown")

    host_end = sparkside.host_info()
    flags = []
    if host_start["other_spark_jvms"] or host_end["other_spark_jvms"]:
        flags.append("other_spark_jvm_running")
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "slots": slots,
        "num_buckets": nb,
        "docs_per_pass": len(ref),
        "cold_start_s": cold_start_s,
        "setup_s_each": setups,
        "passes": [{"wall_s": w, "docs": d, "host_speed": k} for w, d, k in passes],
        "raw_docs_per_s": statistics.median(d / w for w, d, _ in passes),
        "pass_peak_rss_mb": pass_rss_mb,
        "host_start": host_start,
        "host_end": host_end,
        "steal_frac": sparkside.steal_frac(jiffies_start, sparkside.cpu_jiffies()),
        "flags": flags,
        "phase_s": phase_s,
    }
    if not args.trace:
        metrics = {
            # scaled to the reference host speed (see hostspeed.py)
            "docs_per_s": statistics.median(d / w * k for w, d, k in passes),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": statistics.median(pass_rss_mb),
        }
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in declared_units("per_layer" if args.trace else "end_to_end").items()
        },
    }
    return result, details


def spark_layer_metrics(api, n_passes: int, slots: int, probe: dict, docs: int) -> dict:
    """Per-layer Spark counters for the timed passes, read back from the
    status REST endpoint and grouped by the job group of each action."""
    import re

    from sparkside import metric_total

    # the status store trails the scheduler; wait until it holds every job
    for _ in range(100):
        jobs = api.jobs()
        sqls = api.sql()
        if all(j["status"] != "RUNNING" for j in jobs) and all(
            e["status"] != "RUNNING" for e in sqls
        ):
            break
        time.sleep(0.1)
    group_of = {j["jobId"]: j.get("jobGroup") or "" for j in jobs}
    stage_ids = {j["jobId"]: j["stageIds"] for j in jobs}
    stages = api.stages()

    def pass_of(group: str) -> int | None:
        head = group.split(".")[0]
        return int(head[4:]) if head.startswith("pass") and head[4:].isdigit() else None

    per_pass = [
        {"wall": 0.0, "extract": 0.0, "py_run": 0.0, "py_init": 0.0, "write": 0.0,
         "lineage": 0.0, "files": 0.0, "shuffle": 0.0, "gc": 0.0, "run": 0.0}
        for _ in range(n_passes)
    ]
    skews = []
    for e in sqls:
        job_ids = e.get("successJobIds", [])
        if not job_ids:
            continue
        i = pass_of(group_of.get(job_ids[0], ""))
        if i is None or i >= n_passes:
            continue
        p = per_pass[i]
        dur = e["duration"] / 1000.0
        p["wall"] += dur
        plan = e.get("planDescription", "")
        for node in e.get("nodes", []):
            if node["nodeName"] == "MapInPandas":
                for m in node["metrics"]:
                    if m["name"] == "time to run Python workers":
                        p["py_run"] += metric_total(m["value"])
                    elif m["name"] == "time to initialize Python workers":
                        p["py_init"] += metric_total(m["value"])
        write = re.search(
            r"Execute InsertIntoHadoopFsRelationCommand\n.*\nArguments: file:\S*-(out|lineage),", plan
        )
        if write and write.group(1) == "out":
            p["write"] += dur
            for node in e.get("nodes", []):
                for m in node["metrics"]:
                    if m["name"] == "number of written files":
                        p["files"] += metric_total(m["value"])
        elif write:
            p["lineage"] += dur
        # a stage a later job reuses shows up in its list again, skipped
        ids = {s for j in job_ids for s in stage_ids.get(j, ())}
        job_stages = [
            stages[(s, 0)] for s in sorted(ids) if stages.get((s, 0), {}).get("status") == "COMPLETE"
        ]
        for s in job_stages:
            p["shuffle"] += s["shuffleWriteBytes"]
            p["gc"] += s["jvmGcTime"]
            p["run"] += s["executorRunTime"]
        if "_extract_batches" in plan:
            p["extract"] += dur
            heaviest = max(job_stages, key=lambda s: s["executorRunTime"], default=None)
            if heaviest is not None:
                med, mx = api.task_quantiles(heaviest["stageId"], heaviest["attemptId"], "executorRunTime")
                skews.append(mx / med if med > 0 else 1.0)

    def med(key: str) -> float:
        return statistics.median(p[key] for p in per_pass)

    m = {
        "pipeline.extract_s": med("extract"),
        "pipeline.python_busy_frac": sum(p["py_run"] for p in per_pass)
        / (sum(p["wall"] for p in per_pass) * slots),
        "pipeline.python_init_s": med("py_init"),
        "pipeline.shuffle_write_bytes": med("shuffle"),
        "pipeline.task_skew": statistics.median(skews) if skews else 1.0,
        "pipeline.gc_frac": sum(p["gc"] for p in per_pass) / max(1.0, sum(p["run"] for p in per_pass)),
        "commit.write_s": med("write"),
        "commit.lineage_s": med("lineage"),
        "commit.files_written": med("files"),
    }
    # layers a workload does not exercise read 0
    m["commit.resume_filter_s"] = statistics.median(probe.get("resume_filter_s", [0.0]))
    m["commit.resume_skip_frac"] = (
        1.0 - statistics.median(probe["resume_left"]) / docs if "resume_left" in probe else 0.0
    )
    m["commit.read_committed_s"] = statistics.median(probe.get("read_committed_s", [0.0]))
    m["warc.to_pages_s"] = probe.get("warc_to_pages_s", 0.0)
    m["warc.records_per_s"] = (
        probe["warc_records"] / probe["warc_to_pages_s"] if "warc_records" in probe else 0.0
    )
    return m


def stream_metrics(spark, path: str, tmp: str, nb: int, ref: dict, tally: Tally) -> dict:
    """The stream pass over the pages cached under ``path``, with every url
    it extracted checked against the reference digests."""
    import pyarrow.parquet as pq

    import streampass

    metrics, out, landed = streampass.run(spark, os.path.join(path, "stream"), tmp, nb)
    urls = [u for f in landed for u in pq.read_table(f, columns=["url"]).column("url").to_pylist()]
    spark.sparkContext.setJobGroup("stream.check", "stream output check")
    rows = spark.read.parquet(out).select(*fields()).collect()
    tally.add(len(urls), min(len(urls), check_rows(rows, {u: ref[u] for u in urls})))
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import contentextractor_spark.extractor  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(GOLDENS):
        print(f"perfbench: missing {GOLDENS}", file=sys.stderr)
        return 2
    import sparkside

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    sparkside.configure_env(tmp, args.trace)
    try:
        result, details = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
