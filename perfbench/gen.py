"""Seeded, cached input generator for the extraction benchmark.

Runs as its own process before Spark starts (``run.py`` calls it), so
corpus generation never counts towards any measured time:

    python3 perfbench/gen.py --workload synth_flagship --seed 1

It writes, under ``perfbench/.cache/<workload>-seed<seed>-<shape>-<v>/``
(``<v>``: the first characters of :data:`CANARY_DIGEST`):

* ``documents.parquet`` and ``media.parquet`` -- documents of the seeded
  :func:`ocr_platform_spark.corpus.generate` heavy-tail corpus, in the
  tables' schemas, selected by :func:`select` so that every seed gives
  exactly :data:`TOTAL_PAGES` pages;
* ``media_crawl.parquet`` (``crawl_mix`` only) -- the same media
  re-encoded through all 19 real-codec tiers with the re-encoders of
  ``tests/test_extract_mixed_kinds.py`` (tier numbers as in that file);
  every 5th payload is wrapped in gzip, bzip2 or xz. Tiers are dealt out
  so that each gets a near-equal share of the pages whatever the seed,
  and the few media larger than that share go to text tiers (a plain
  rotation would let one seed put its 200-page scan through the costliest
  tier and another through the cheapest);
* ``oracle.json`` -- the canonical sha256 of every document's
  single-node ``oracle.extract_document`` span sequence;
* ``reference.json`` -- the same for the workload's expected output: the
  oracle, with the one-span-per-line text-layer rule applied for
  ``crawl_mix``;
* ``manifest.json`` -- document, media and page counts and a digest of
  the generated tables.

A cache hit re-hashes the tables and fails if they differ from the
manifest. Every call also regenerates a small canary corpus and fails if
its digest differs from :data:`CANARY_DIGEST`: a change to the corpus
generator or to the test re-encoders must not silently change the inputs.
"""

from __future__ import annotations

import argparse
import bz2
import gzip
import hashlib
import json
import lzma
import multiprocessing as mp
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")
MAX_PAGES = 200
N_FILES = 4
#: corpus shape: among the first STREAM_DOCS generated documents, the
#: heavy-tail ones (a media of HEAVY_MIN pages or more) in generation order
#: while they fit in HEAVY_PAGES pages, then the others in generation order
#: until the corpus holds exactly TOTAL_PAGES pages. A repetition's wall
#: time hardly depends on the page count, so a corpus whose page count
#: moved with the seed moved pages_per_s with it (by 20% on five seeds).
TOTAL_PAGES, HEAVY_PAGES, HEAVY_MIN, STREAM_DOCS = 800, 400, 21, 1024
SHAPE = f"p{TOTAL_PAGES}-h{HEAVY_PAGES}"
FIELD_SEP, SPAN_SEP = "\x1f", "\x1e"

#: zip members and gzip headers carry a timestamp; the generator pins the
#: clock to 1980-01-01 so re-encoded bytes depend on the seed alone
FIXED_CLOCK = 315532800.0

CANARY_SEED, CANARY_DOCS, CANARY_MAX_PAGES = 7, 12, 4
#: digest of the canary corpus (12 docs, seed 7, max 4 pages) and its
#: crawl re-encoding; update only together with a fresh baseline
CANARY_DIGEST = (
    "7a846e066062c3cd6d23c2ba5b201c3c6bf2ac563a8044d847869ac1f4f1ad7e")

WORKLOADS = ("synth_flagship", "crawl_mix")


def canonical(spans) -> str:
    """One document's span sequence as the string the Spark side hashes
    (``workloads.doc_digests``): fields joined by U+001F, spans by
    U+001E."""
    return SPAN_SEP.join(
        FIELD_SEP.join((kind, "\x00" if text is None else text,
                        "\x00" if ref is None else ref, str(order)))
        for kind, text, ref, order in spans
    )


def digest(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _pin_clock() -> None:
    time.time = lambda: FIXED_CLOCK
    os.environ["TZ"] = "UTC"
    time.tzset()


def _crawl_encoders():
    """The 19 tier re-encoders in ``test_extract_mixed_kinds`` order."""
    sys.path.insert(0, ROOT)
    from tests.test_extract_csv import content_dsv
    from tests.test_extract_docx import content_docx
    from tests.test_extract_eml import content_eml, content_mbox
    from tests.test_extract_epub import content_epub
    from tests.test_extract_html import content_html
    from tests.test_extract_json import content_jsonl
    from tests.test_extract_latex import content_tex
    from tests.test_extract_md import content_md
    from tests.test_extract_odt_rtf import content_odt, content_rtf
    from tests.test_extract_office_paged import content_pptx, content_xlsx
    from tests.test_extract_real import (reencode_real, reencode_tiff,
                                         reencode_wild)
    from tests.test_extract_text_layer import (reencode_text_layer,
                                               split_pdf_spans)
    from tests.test_extract_text_plain import content_txt
    from tests.test_extract_xml import content_xml

    tiers = (reencode_real, reencode_tiff, reencode_wild,
             reencode_text_layer, content_html, content_docx, content_txt,
             content_pptx, content_xlsx, content_epub, content_odt,
             content_rtf, content_md, content_dsv, content_xml,
             content_jsonl, content_tex, content_eml, content_mbox)
    return tiers, split_pdf_spans


_WRAP = (lambda b: gzip.compress(b, mtime=0), bz2.compress, lzma.compress)

#: the corpus the generator pool works on; forked workers inherit it
_STATE: dict = {}


def _oracle(idx: list[int]) -> list[tuple[str, list]]:
    from ocr_platform_spark import oracle

    media = {k: v["data"] for k, v in _STATE["media"].items()}
    out = []
    for i in idx:
        d = _STATE["docs"][i]
        spans = oracle.extract_document(d["spans"], media)
        out.append((d["doc_id"], [(s.kind, s.text, s.media_ref, s.order)
                                  for s in spans]))
    return out


#: tier order for ties: text tiers first, raster tiers last, so the few
#: media larger than an even share land where a page costs least
_TIE_ORDER = (4, 6, 12, 13, 14, 15, 16, 17, 18, 7, 8, 9, 10, 11, 5, 3, 2, 1, 0)


def crawl_tiers(media: dict) -> list[tuple[str, int]]:
    """``(media_ref, tier)`` pairs: largest media first, each to the tier
    with the fewest pages so far."""
    load = [0] * 19
    out = []
    for ref in sorted(media, key=lambda r: (-media[r]["page_count"], r)):
        tier = min(_TIE_ORDER, key=lambda t: load[t])
        load[tier] += media[ref]["page_count"]
        out.append((ref, tier))
    return out


def _reencode(idx: list[int]) -> list[tuple[int, bytes, bool]]:
    """Position ``i`` of :func:`crawl_tiers` through its tier; every 5th
    payload is transport-wrapped. Returns ``(i, payload, is_text_pdf)``."""
    tiers, _ = _crawl_encoders()
    media = _STATE["media"]
    order = crawl_tiers(media)
    out = []
    for i in idx:
        ref, tier = order[i]
        data = media[ref]["data"]
        is_pdf = False
        if tier == 2:
            payload = tiers[2](data, i)
        elif tier == 3:
            payload, is_pdf = tiers[3](data)
        else:
            payload = tiers[tier](data)
        if i % 5 == 4:
            payload = _WRAP[i % 3](payload)
        out.append((i, payload, is_pdf))
    return out


def _chunks(n: int, k: int) -> list[list[int]]:
    return [list(range(i, n, k)) for i in range(k)]


def _pool_map(jobs: list[tuple], procs: int) -> list[list]:
    """Runs each ``(fn, n_items)`` job over index chunks of the corpus in
    :data:`_STATE`, in one pool of forked workers."""
    with mp.get_context("fork").Pool(procs) as pool:
        pending = [pool.map_async(fn, _chunks(n, procs)) for fn, n in jobs]
        return [[x for part in p.get() for x in part] for p in pending]


def table_digest(docs: pa.Table, media: pa.Table,
                 crawl: pa.Table | None) -> str:
    """sha256 over the logical rows of the generated tables (order-free
    across parquet part files, byte-exact within each value)."""
    h = hashlib.sha256()
    for row in sorted(docs.to_pylist(), key=lambda r: r["doc_id"]):
        h.update(row["doc_id"].encode())
        h.update(canonical((s["kind"], s["text"], s["media_ref"],
                            s["offset"]) for s in row["spans"]).encode())
    for table in (media, crawl):
        if table is None:
            continue
        for row in sorted(table.select(["media_ref", "data"]).to_pylist(),
                          key=lambda r: r["media_ref"]):
            h.update(row["media_ref"].encode())
            h.update(hashlib.sha256(row["data"]).digest())
    return h.hexdigest()


def _read_tables(d: str):
    docs = pq.read_table(os.path.join(d, "documents.parquet"))
    media = pq.read_table(os.path.join(d, "media.parquet"))
    crawl_path = os.path.join(d, "media_crawl.parquet")
    crawl = pq.read_table(crawl_path) if os.path.exists(crawl_path) else None
    return docs, media, crawl


def _crawl_rows(media: dict, enc: list[tuple[int, bytes, bool]]
                ) -> tuple[list[tuple[str, bytes]], set]:
    """:func:`_reencode` results -> ``(media_ref, payload)`` rows and the
    refs that became text-layer PDFs."""
    refs = [ref for ref, _ in crawl_tiers(media)]
    enc = sorted(enc)
    rows = [(refs[i], payload) for i, payload, _ in enc]
    text_pdf = {refs[i] for i, _, is_pdf in enc if is_pdf}
    return rows, text_pdf


def canary_digest() -> str:
    """Digest of a tiny corpus and its crawl re-encoding, regenerated on
    every call so that drift in the generator shows even on a warm cache."""
    from ocr_platform_spark import corpus

    docs, media = corpus.generate(CANARY_DOCS, seed=CANARY_SEED,
                                  max_pages=CANARY_MAX_PAGES)
    _STATE.update(docs=docs, media=media)
    rows, _ = _crawl_rows(media, _reencode(list(range(len(media)))))
    return table_digest(
        pa.Table.from_pylist(docs, schema=corpus.DOCUMENTS_SCHEMA),
        pa.Table.from_pylist(
            [{"media_ref": k, "data": v["data"]} for k, v in media.items()]),
        pa.Table.from_pylist(
            [{"media_ref": r, "data": p} for r, p in rows]),
    )


def _write_digests(path: str, spans: dict) -> None:
    with open(path, "w") as f:
        json.dump({k: digest(canonical(v)) for k, v in sorted(spans.items())},
                  f, indent=0)


def select(seed: int) -> tuple[list[dict], dict]:
    """The benchmark corpus of ``seed`` (see :data:`TOTAL_PAGES`):
    ``(documents, media)`` as :func:`ocr_platform_spark.corpus.generate`
    returns them, media restricted to the selected documents."""
    from ocr_platform_spark import corpus

    n = STREAM_DOCS
    while True:
        # the generator is sequential: a longer stream keeps its prefix
        docs, media = corpus.generate(n, seed=seed, max_pages=MAX_PAGES)
        chosen = _fill(docs, media)
        if chosen is not None:
            refs = {s["media_ref"] for d in chosen for s in d["spans"]
                    if s["kind"] != "text"}
            return chosen, {r: media[r] for r in refs}
        n *= 2


def _fill(docs: list[dict], media: dict) -> list[dict] | None:
    """:func:`select` on one prefix of the stream; None if it is too
    short to reach :data:`TOTAL_PAGES`."""
    pages = {d["doc_id"]: [media[s["media_ref"]]["page_count"]
                           for s in d["spans"] if s["kind"] != "text"]
             for d in docs}
    picked, total = set(), 0
    for heavy, budget in ((True, HEAVY_PAGES), (False, TOTAL_PAGES)):
        for d in docs:
            counts = pages[d["doc_id"]]
            if ((max(counts, default=0) >= HEAVY_MIN) == heavy
                    and total + sum(counts) <= budget):
                picked.add(d["doc_id"])
                total += sum(counts)
            if not heavy and total == TOTAL_PAGES:
                break
    if total < TOTAL_PAGES:
        return None
    return [d for d in docs if d["doc_id"] in picked]


def _write_tables(out: str, docs: list[dict], media: dict) -> None:
    """``documents.parquet`` and ``media.parquet`` as directories of
    :data:`N_FILES` part files, like ``corpus.write_parquet``."""
    from ocr_platform_spark import corpus

    rows = [{"media_ref": k, **v} for k, v in sorted(media.items())]
    for name, table, schema in (
            ("documents.parquet", docs, corpus.DOCUMENTS_SCHEMA),
            ("media.parquet", rows, corpus.MEDIA_SCHEMA)):
        os.makedirs(os.path.join(out, name))
        step = -(-len(table) // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                pa.Table.from_pylist(table[i * step:(i + 1) * step],
                                     schema=schema),
                os.path.join(out, name, f"part-{i:05d}.parquet"))


def cache_dir(workload: str, seed: int) -> str:
    # the canary digest versions the cache: a generator change that moves
    # it never reuses inputs generated before the change
    return os.path.join(CACHE, f"{workload}-seed{seed}-{SHAPE}-"
                               f"{CANARY_DIGEST[:8]}")


def generate(workload: str, seed: int, procs: int) -> dict:
    out = cache_dir(workload, seed)
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        got = table_digest(*_read_tables(out))
        if got != manifest["digest"]:
            raise SystemExit(f"cached inputs in {out} changed: digest {got} "
                             f"!= manifest {manifest['digest']}")
        return manifest

    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    docs, media = select(seed)
    _STATE.update(docs=docs, media=media)
    jobs = [(_oracle, len(docs))]
    if workload == "crawl_mix":
        jobs.append((_reencode, len(media)))
    # fork before pyarrow starts its thread pools
    results = _pool_map(jobs, procs)
    _write_tables(tmp, docs, media)
    ref = dict(results[0])
    if workload == "crawl_mix":
        rows, text_pdf = _crawl_rows(media, results[1])
        pq.write_table(
            pa.Table.from_pylist(
                [{"media_ref": r, "data": p} for r, p in rows],
                schema=pa.schema([("media_ref", pa.string()),
                                  ("data", pa.binary())])),
            os.path.join(tmp, "media_crawl.parquet"))
    _write_digests(os.path.join(tmp, "oracle.json"), ref)
    if workload == "crawl_mix":
        _, split_pdf_spans = _crawl_encoders()
        ref = {k: split_pdf_spans(v, text_pdf) for k, v in ref.items()}
    _write_digests(os.path.join(tmp, "reference.json"), ref)
    manifest = {
        "workload": workload, "seed": seed, "docs": len(docs),
        "media": len(media),
        "pages": int(sum(m["page_count"] for m in media.values())),
        "digest": table_digest(*_read_tables(tmp)),
        "generate_s": round(time.perf_counter() - t0, 3),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, out)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    _pin_clock()
    sys.path.insert(0, ROOT)
    procs = len(os.sched_getaffinity(0))
    canary = canary_digest()
    if canary != CANARY_DIGEST:
        raise SystemExit(
            f"canary corpus digest {canary} != pinned {CANARY_DIGEST}: the "
            "corpus generator or a tests/ re-encoder changed the inputs")
    manifest = generate(args.workload, args.seed, procs)
    manifest["dir"] = os.path.relpath(cache_dir(args.workload, args.seed), ROOT)
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
