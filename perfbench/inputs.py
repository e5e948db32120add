"""Seeded inputs for the three benchmark workloads.

Every document comes from `sources.synth.make_document` and every file
is written with the `sources.corpus.DOCUMENTS_SCHEMA` layout, so the
program under test receives only parquet files. The same seed gives
byte-identical files. Each `build_*` function returns a manifest: the
paths, the sizes and the measured share of every document family,
which the benchmark copies into its record.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_parser_spark.sources.corpus import DOCUMENTS_SCHEMA
from pdf_parser_spark.sources.synth import make_document

ARROW_SCHEMA = to_arrow_schema(DOCUMENTS_SCHEMA)

# the default synthetic mix: one mega-doc (150-400 pages) per 40 docs
MEGA_EVERY = 40

# an extraction batch of 8,000 docs (about 20 s warm on 4 cores): its
# salted shuffle writes ~12 MB, so adaptive execution keeps at least one
# UDF task per slot; at 480 docs it coalesced into a single task
EXTRACT_DOCS = 8000
WARM_DOCS = 800
STRIP_DOCS = 4800
CURATE_BATCH1_DOCS = 60
CURATE_FRESH_DOCS = 240
CURATE_FAMILY_SIZE = 4  # planted twins per family
CURATE_BULK_SHARE = 0.4  # fresh docs on the one host the cap binds on
HOST_CAP = 5
TWIN_MIN_WORDS = 250  # long sources keep a one-sentence edit above J=0.9

TWIN_FAMILIES = ("batch_exact", "batch_near", "history_exact", "history_near")


def write_docs(rows: list[dict], path: Path, n_files: int) -> int:
    """Write rows as `n_files` equal parquet files (so the scan splits
    into parallel tasks); returns the bytes written.

    Uncompressed and without dictionaries: a file's size is then its
    raw content, not the luck of which similar pages share a file, and
    it is a steady base for `write_bytes_per_input_byte`."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-len(rows) // n_files)
    total = 0
    for i in range(n_files):
        part = rows[i * step : (i + 1) * step]
        if not part:
            break
        f = path / f"part-{i:03d}.parquet"
        pq.write_table(
            pa.Table.from_pylist(part, schema=ARROW_SCHEMA), f,
            compression="none", use_dictionary=False,
        )
        total += f.stat().st_size
    return total


def _is_mega(i: int) -> bool:
    return i > 0 and i % MEGA_EVERY == 0


def mix_shares(rows: list[dict], mega: list[bool]) -> dict:
    """Measured shares of the families the synthetic mix plants."""
    n = len(rows)
    empty = sum(1 for r in rows if not r["text"])
    no_toc = sum(1 for r in rows if r["text"] and "Table Of Contents" not in r["text"])
    hosts = {r["url"].split("/")[2] for r in rows}
    return {
        "docs": n,
        "mega_share": round(sum(mega) / n, 4),
        "empty_share": round(empty / n, 4),
        "no_toc_share": round(no_toc / n, 4),
        "hosts": len(hosts),
        "text_mb": round(sum(len(r["text"].encode()) for r in rows) / 1e6, 3),
    }


def build_extract(seed: int, root: Path, n_files: int, n_docs: int = EXTRACT_DOCS) -> dict:
    """`extract_skewed`: the default synthetic mix, mega-docs included.

    The seed varies every document's content; the url (six hosts, as in
    the mix) is fixed by the document's index. The salted shuffle places
    a document by its url, so every seed then puts the mega-docs into
    the same partitions, and a run's task tail does not depend on where
    the seed happened to hash them."""
    mega = [_is_mega(i) for i in range(n_docs)]
    rows = [make_document(i, seed=seed, mega=m) for i, m in enumerate(mega)]
    for i, r in enumerate(rows):
        r["url"] = f"https://host{i % 6}.example/spec/{i}"
    path = root / "docs"
    nbytes = write_docs(rows, path, n_files)
    return {
        "input": str(path),
        "input_bytes": nbytes,
        "urls": [r["url"] for r in rows],
        "mega_urls": [r["url"] for r, m in zip(rows, mega) if m],
        "shares": mix_shares(rows, mega),
    }


def build_strip(seed: int, root: Path, n_files: int) -> dict:
    """`strip_html_uniform`: no mega-docs, so rows are of similar size."""
    rows = [make_document(i, seed=seed) for i in range(STRIP_DOCS)]
    path = root / "docs"
    nbytes = write_docs(rows, path, n_files)
    truncated = [r["url"] for r in rows if not r["html"].rstrip().endswith(b"</html>")]
    return {
        "input": str(path),
        "input_bytes": nbytes,
        "expected_text": {r["url"]: r["text"] for r in rows},
        "truncated_urls": truncated,
        "shares": {
            **mix_shares(rows, [False] * len(rows)),
            "truncated_share": round(len(truncated) / len(rows), 4),
        },
    }


def _word_count(text: str) -> int:
    return len(text.split())


def build_curate(seed: int, root: Path, n_files: int) -> dict:
    """Both batches of `curate_incremental`.

    Batch 1: fresh docs, one host each, curated in set-up.
    Batch 2:
    - fresh docs: a `CURATE_BULK_SHARE` share on `bulk.example`, where
      the host cap binds, the rest one per host, where it never does;
    - `batch_exact` / `batch_near`: copies of fresh docs inside the
      batch (near = one appended sentence), url sorting after the source
      so the source is the keeper;
    - `history_exact` / `history_near`: copies of batch-1 docs.
    Twins get hosts of their own, so the cap never touches a family.
    """
    rng = random.Random(seed * 7919 + 2)
    batch1 = []
    for k in range(CURATE_BATCH1_DOCS):
        d = make_document(k, seed=seed)
        d["url"] = f"https://past{k:04d}.example/doc/{seed}/{k:05d}"
        batch1.append(d)

    fresh: list[dict] = []
    n_bulk = int(CURATE_FRESH_DOCS * CURATE_BULK_SHARE)
    for k in range(CURATE_FRESH_DOCS):
        d = make_document(100_000 + k, seed=seed)
        host = "bulk.example" if k < n_bulk else f"site{k:04d}.example"
        d["url"] = f"https://{host}/doc/{seed}/{k:05d}"
        fresh.append(d)

    def twin(src: dict, url: str, near: bool) -> dict:
        t = dict(src)
        t["url"] = url
        if near:
            t["text"] = src["text"] + "\nThe revised edition adds one closing remark here."
        return t

    def long_docs(docs: list[dict]) -> list[dict]:
        pool = [d for d in docs if _word_count(d["text"]) >= TWIN_MIN_WORDS]
        rng.shuffle(pool)
        if len(pool) < 2 * CURATE_FAMILY_SIZE:
            raise RuntimeError(f"seed {seed}: only {len(pool)} long docs to copy")
        return pool

    families: dict[str, list[tuple[str, str]]] = {f: [] for f in TWIN_FAMILIES}
    rows = list(fresh)
    k = CURATE_FAMILY_SIZE
    light = long_docs(fresh[n_bulk:])
    for fam, chosen in (("batch_exact", light[:k]), ("batch_near", light[k : 2 * k])):
        for src in chosen:
            t = twin(src, src["url"] + "/copy", near=fam == "batch_near")
            rows.append(t)
            families[fam].append((t["url"], src["url"]))
    past = long_docs(batch1)
    for j, src in enumerate(past[: 2 * k]):
        fam = "history_exact" if j < k else "history_near"
        t = twin(src, f"https://mirror{j:03d}.example/doc/{seed}/{j:03d}", fam == "history_near")
        rows.append(t)
        families[fam].append((t["url"], src["url"]))
    rng.shuffle(rows)

    b1_bytes = write_docs(batch1, root / "batch1", n_files)
    b2_bytes = write_docs(rows, root / "batch2", n_files)
    n = len(rows)
    twin_urls = {u for pairs in families.values() for u, _ in pairs}
    return {
        "batch1": str(root / "batch1"),
        "batch1_bytes": b1_bytes,
        "input": str(root / "batch2"),
        "input_bytes": b2_bytes,
        "urls": [r["url"] for r in rows],
        "fresh_urls": [d["url"] for d in fresh],
        "families": families,
        "host_cap": HOST_CAP,
        "shares": {
            "docs": n,
            "batch1_docs": len(batch1),
            "fresh_share": round(len(fresh) / n, 4),
            "bulk_host_share": round(n_bulk / n, 4),
            **{f"{fam}_share": round(len(families[fam]) / n, 4) for fam in TWIN_FAMILIES},
            "twin_share": round(len(twin_urls) / n, 4),
            "empty_share": round(sum(1 for r in rows if not r["text"]) / n, 4),
        },
    }
