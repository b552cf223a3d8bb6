"""The traced run's stream pass: an open loop that lands small parquet files
of pages at a fixed offered rate, from one generator thread, into
``streaming.stream``'s ``stream_extract`` → ``write_stream``.

Each file is timed from when it was due to land to the commit of the batch
that read it.  The file → batch map comes from the checkpoint's
``sources/0/<batch>`` log (compacted every 10 batches as
``<batch>.compact``); batch durations come from the query progress.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import statistics
import threading
import time

FILES_PER_S = 4.0  # 80 pages/s at 20 pages a file
SECONDS = 8.0
DRAIN_TIMEOUT_S = 60.0


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Landed file name → id of the batch that read it."""
    out = {}
    for log in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(log)
        if name.startswith("."):
            continue
        batch = int(name.split(".")[0])
        with open(log) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry.get("batchId", batch)
    return out


def _commit_times(progress: list[dict]) -> dict[int, float]:
    """Batch id → wall time (s since the epoch) its trigger finished."""
    out = {}
    for p in progress:
        start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        out[p["batchId"]] = start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000
    return out


def run(spark, stream_dir: str, tmp: str, num_buckets: int) -> tuple[dict, str, list[str]]:
    """Land the files, wait until every one is committed (or the drain
    times out), and return the stream metrics, the sink's output directory
    and the paths of the files landed."""
    from contentextractor_spark.streaming.stream import (
        read_pages_stream,
        stream_extract,
        write_stream,
    )

    files = sorted(os.listdir(stream_dir))
    n = min(len(files), 1 + int(FILES_PER_S * SECONDS))
    landing, out, ckpt = (os.path.join(tmp, f"stream-{d}") for d in ("in", "out", "ckpt"))
    os.makedirs(landing)

    def land(name: str) -> None:
        part = os.path.join(landing, "." + name)  # hidden until renamed
        shutil.copyfile(os.path.join(stream_dir, name), part)
        os.rename(part, os.path.join(landing, name))

    # the first file warms the query up and is not timed
    land(files[0])
    query = write_stream(
        stream_extract(read_pages_stream(spark, landing), num_buckets=num_buckets),
        out,
        ckpt,
        available_now=False,
    )
    try:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while files[0] not in _file_batches(ckpt) or not query.recentProgress:
            if not query.isActive or time.time() > deadline:
                raise RuntimeError(f"stream query did not start: {query.exception()}")
            time.sleep(0.05)
        due: dict[str, float] = {}
        landed: dict[str, float] = {}
        start = time.time() + 0.2

        def generate() -> None:
            for i, name in enumerate(files[1:n]):
                t = start + i / FILES_PER_S
                wait = t - time.time()
                if wait > 0:
                    time.sleep(wait)
                land(name)
                due[name] = t
                landed[name] = time.time()

        gen = threading.Thread(target=generate)
        gen.start()
        gen.join()
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            batch_of = _file_batches(ckpt)
            commits = _commit_times(query.recentProgress)
            if all(batch_of.get(f) in commits for f in due) or time.time() > deadline:
                break
            time.sleep(0.1)
        progress = query.recentProgress
    finally:
        query.stop()
    commits = _commit_times(progress)
    done = {f: commits[batch_of[f]] for f in due if batch_of.get(f) in commits}
    fresh = [done[f] - due[f] for f in done]
    # files landed but not yet committed, at each landing
    backlog = max(
        sum(landed[g] <= landed[f] < done.get(g, float("inf")) for g in landed) for f in landed
    )
    data = [p for p in progress if p["numInputRows"] > 0]

    def p50(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in data)

    metrics = {
        "stream.batches": len(data),
        "stream.batch_ms_p50": p50("triggerExecution"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.backlog_files_max": backlog,
        "stream.generator_late_ms_max": 1000 * max(landed[f] - due[f] for f in due),
        "stream.freshness_p50_s": statistics.median(fresh),
        "stream.freshness_p90_s": statistics.quantiles(fresh, n=10)[8],
    }
    return metrics, out, [os.path.join(stream_dir, f) for f in files[:n]]
