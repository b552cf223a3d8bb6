"""Benchmark inputs: one generator per workload, cached per (workload, seed).

Every input is a pure function of (workload, seed), generated in this single
process before Spark starts.  A cache entry is a directory holding

    docs.parquet   url, html — the raw page bytes each url must extract from
    pages/         crawl_mix: the Spark input pages table
    stream/        crawl_mix: the same pages in files of STREAM_FILE_PAGES,
                   landed one by one by the traced run's stream pass
    segments/      warc_commit: gzip-member archive segments
    manifest.json  doc count and generator version; written last, so a
                   directory without it is an interrupted build and is redone

Reference digests sit beside the inputs.  For the pinned seed they come from
the committed file under digests/; for every other seed they come from the
in-process ``extract_document`` of the checked-out code, keyed by a hash of
that code so a cache directory can never vouch for another commit's output.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from contentextractor_spark.sources.pages import render_archetype, write_pages_parquet
from contentextractor_spark.sources.warc import build_warc

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED_SEED = 1
GEN_VERSION = 2
# docs per pass; sized so one extraction pass over the pool takes a few
# seconds at local[4], letting one run time several passes
POOL_DOCS = {"crawl_mix": 1000, "warc_commit": 600}
PARQUET_FILES = 8
STREAM_FILE_PAGES = 20
SEGMENT_RECORDS = 50

# warc_commit pages: English, UTF-8, the boilerplate-heavy archetypes
# (sources.pages numbering: nav/footer, link farm, topic block + pagination,
# hidden/styling noise, long page) at the weights sources.pages.generate_pages
# gives them, renormalised over these five
_BOILER_ARCHETYPES = [1, 2, 3, 5, 9]
_BOILER_WEIGHTS = [w / 0.7 for w in (0.3, 0.1, 0.15, 0.1, 0.05)]
# output fields each url's digest covers
DIGEST_FIELDS = (
    "main_text", "title", "description", "keywords", "spans", "keyword_list", "threshold", "status",
)


def _boilerplate_page(rng: np.random.Generator) -> bytes:
    arch = int(rng.choice(_BOILER_ARCHETYPES, p=_BOILER_WEIGHTS))
    return render_archetype(rng, arch, "en").encode("utf-8")


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    chunk = -(-table.num_rows // PARQUET_FILES)
    for i in range(PARQUET_FILES):
        part = table.slice(i * chunk, chunk)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _build(workload: str, seed: int, path: str) -> None:
    n = POOL_DOCS[workload]
    if workload == "crawl_mix":
        # the program's own pages-table writer; docs.parquet is read back
        # from it so both views are byte-identical by construction
        write_pages_parquet(os.path.join(path, "pages"), n, seed=seed, n_files=PARQUET_FILES)
        t = pq.read_table(os.path.join(path, "pages"))
        pq.write_table(t.select(["url", "html"]), os.path.join(path, "docs.parquet"))
        # the same pages as small files for the traced run's stream pass
        stream = os.path.join(path, "stream")
        os.makedirs(stream)
        for i in range(0, t.num_rows, STREAM_FILE_PAGES):
            pq.write_table(
                t.slice(i, STREAM_FILE_PAGES),
                os.path.join(stream, f"f{i // STREAM_FILE_PAGES:05d}.parquet"),
            )
        return
    rng = np.random.default_rng(seed)
    htmls = [_boilerplate_page(rng) for _ in range(n)]
    urls = [f"https://news{i % 37:02d}.example.com/s{seed}/p{i}" for i in range(n)]
    docs = pa.table({"url": pa.array(urls, pa.string()), "html": pa.array(htmls, pa.binary())})
    pq.write_table(docs, os.path.join(path, "docs.parquet"))
    segments = []
    for s in range(0, n, SEGMENT_RECORDS):
        records = [
            (urls[i], f"2026-01-01T00:{i // 60 % 60:02d}:{i % 60:02d}Z", htmls[i])
            for i in range(s, min(n, s + SEGMENT_RECORDS))
        ]
        segments.append(build_warc(records, gzip_members=True))
    seg_table = pa.table(
        {
            "id": pa.array(range(len(segments)), pa.int32()),
            "warc": pa.array(segments, pa.binary()),
        }
    )
    _write_parts(seg_table, os.path.join(path, "segments"))


def prepare(workload: str, seed: int, cache_root: str) -> str:
    """Directory of the cached inputs for (workload, seed), built if absent."""
    n = POOL_DOCS[workload]
    path = os.path.join(cache_root, f"{workload}-seed{seed}-n{n}-v{GEN_VERSION}")
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        _build(workload, seed, path)
        with open(manifest, "w") as f:
            json.dump({"workload": workload, "seed": seed, "docs": n}, f)
    return path


def prepare_golden(cache_root: str, n: int = 200, seed: int = 42) -> str:
    """Pages table behind tests/goldens/archetypes_200.json."""
    path = os.path.join(cache_root, f"golden-{n}-seed{seed}")
    if not os.path.exists(os.path.join(path, "_done")):
        shutil.rmtree(path, ignore_errors=True)
        write_pages_parquet(path, n, seed=seed, n_files=PARQUET_FILES)
        open(os.path.join(path, "_done"), "w").close()
    return path


def read_docs(path: str) -> tuple[list[str], list[bytes]]:
    t = pq.read_table(os.path.join(path, "docs.parquet"))
    return t.column("url").to_pylist(), t.column("html").to_pylist()


def digest(r) -> str:
    """sha256 of the DIGEST_FIELDS of one url's extraction; ``r`` is an
    in-process ``DocumentExtract`` or a Spark Row.  Spans may be tuples or
    Rows — both iterate in field order."""
    values = [getattr(r, f) for f in DIGEST_FIELDS]
    values[DIGEST_FIELDS.index("spans")] = [list(s) for s in r.spans]
    payload = json.dumps(values, ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(payload.encode("utf-8", "surrogatepass")).hexdigest()


def pinned_path(workload: str) -> str:
    return os.path.join(HERE, "digests", f"{workload}-seed{PINNED_SEED}.json")


def in_process_digests(urls: list[str], htmls: list[bytes]) -> dict[str, str]:
    from contentextractor_spark.extractor import extract_document

    out = {}
    for url, html in zip(urls, htmls):
        out[url] = digest(extract_document(html))
    return out


def _code_hash() -> str:
    import contentextractor_spark

    pkg = os.path.dirname(os.path.abspath(contentextractor_spark.__file__))
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                h.update(os.path.relpath(full, pkg).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def reference_digests(workload: str, seed: int, path: str) -> dict[str, str]:
    """url → expected digest: the pinned file for PINNED_SEED, else the
    in-process extraction of the checked-out code (cached per code hash)."""
    if seed == PINNED_SEED:
        with open(pinned_path(workload)) as f:
            return json.load(f)
    cached = os.path.join(path, f"reference-{_code_hash()}.json")
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)
    ref = in_process_digests(*read_docs(path))
    tmp = cached + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cached)
    return ref
