"""Seeded inputs for the benchmark workloads, cached per (workload, seed, size).

Extraction corpora come from the repo's own load generator
(`ms_ocr_spark.sources.datagen.write_corpus`), which renders a document pool
once per checkout.  A seed draws a corpus from that pool.  Span counts per
doc are random and mega-docs multiply them, so a plain draw of n docs would
carry a seed-dependent amount of work; each draw is instead a fixed-work
subset: exactly `n_docs` documents whose media cost sums to a fixed target.
That keeps the pass wall comparable across seeds.

The operator workload needs the tables its registry queries read (documents,
embeddings, lineitem); `write_ops_tables` draws them from the seed with
numpy, in the schemas of the registry's test data and from the distributions
measured on its sf0.1 tables (`sf_profile.json`).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Relative media cost used to equalise work across seeds: a JPEG decode costs
# about 14 PNG decode+OCR passes on a 4-core host; text spans are ~free.
MIME_COST = {"png": 1, "jpeg": 14, "tiff": 2}
_MAGIC = ((b"\x89PNG", "png"), (b"\xff\xd8\xff", "jpeg"), (b"II*\0", "tiff"), (b"MM\0*", "tiff"))


def mime_of(buf: bytes) -> str:
    for magic, name in _MAGIC:
        if buf.startswith(magic):
            return name
    return "unknown"


def _fresh(out_dir: str, params: dict) -> bool:
    path = os.path.join(out_dir, "params.json")
    if os.path.exists(path):
        with open(path) as fh:
            if json.load(fh) == params:
                return False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    return True


def _seal(out_dir: str, params: dict) -> None:
    with open(os.path.join(out_dir, "params.json"), "w") as fh:
        json.dump(params, fh)


def _select_fixed_work(
    doc_cost: dict[str, int], mega: set[str], order: list[str], n_docs: int, n_mega: int, target: int
) -> list[str]:
    """Pick n_docs doc ids (n_mega of them mega-docs), preferring the front of
    `order`, whose cost sums as close to `target` as single swaps with the
    rest of the pool can get."""
    megas = [d for d in order if d in mega][:n_mega]
    normal = [d for d in order if d not in mega]
    chosen, spare = normal[: n_docs - len(megas)], normal[n_docs - len(megas):]
    diff = target - sum(doc_cost[d] for d in megas + chosen)
    while diff:
        by_cost_spare: dict[int, str] = {}
        for d in spare:
            by_cost_spare.setdefault(doc_cost[d], d)
        by_cost_chosen: dict[int, str] = {}
        for d in chosen:
            by_cost_chosen.setdefault(doc_cost[d], d)
        best = None
        for a, da in by_cost_chosen.items():
            for b, db in by_cost_spare.items():
                gain = abs(diff) - abs(diff - (b - a))
                if gain > 0 and (best is None or gain > best[0]):
                    best = (gain, da, db, b - a)
        if best is None:
            break
        _, da, db, delta = best
        chosen[chosen.index(da)] = db
        spare[spare.index(db)] = da
        diff -= delta
    return sorted(megas + chosen)


def write_extraction_corpus(
    out_dir: str,
    pool_dir: str,
    pool_docs: int,
    seed: int,
    n_docs: int,
    cost_per_doc: float,
    corrupt: int = 0,
    **datagen_kw,
) -> dict:
    """Fixed-work extraction corpus for one seed; returns its paths plus the
    corpus bases.

    The documents are drawn from a pool that `write_corpus` generates once
    (rendering media is the slow part): the seed shuffles the pool and the
    first docs of that order are taken, then swapped until the media cost
    reaches `n_docs * cost_per_doc`.  Mega-docs keep their share of the pool.
    `corrupt` > 0 overwrites that many media payloads with bytes that pass
    the engine's admission check (PNG magic, small size) but cannot be
    decoded; their golden text stays, so each one must surface as a failure.
    """
    import pyarrow.compute as pc

    from ms_ocr_spark.sources.datagen import write_corpus

    params = {
        "pool": [pool_dir, pool_docs, datagen_kw],
        "n_docs": n_docs,
        "seed": seed,
        "cost_per_doc": cost_per_doc,
        "corrupt": corrupt,
    }
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in ("documents", "media_store", "golden_spans")}
    if not _fresh(out_dir, params):
        with open(os.path.join(out_dir, "bases.json")) as fh:
            return {"paths": paths, "bases": json.load(fh)}
    pool = write_corpus(pool_dir, n_docs=pool_docs, seed=0, processes=4, **datagen_kw)
    docs = pq.read_table(pool["documents"])
    media = pq.read_table(pool["media_store"], columns=["media_ref", "payload"])
    golden = pq.read_table(pool["golden_spans"])

    ref_cost = {r: MIME_COST.get(mime_of(p), 1) for r, p in zip(media["media_ref"].to_pylist(), media["payload"].to_pylist())}
    doc_cost: dict[str, int] = {}
    mega: set[str] = set()
    ids = docs["doc_id"].to_pylist()
    for doc_id, spans in zip(ids, docs["spans"].to_pylist()):
        doc_cost[doc_id] = sum(ref_cost.get(s["media_ref"], 0) for s in spans if s["kind"] == "media")
        # the generator's skewed docs carry far more spans than the at most
        # 12 of a regular doc
        if len(spans) > 12:
            mega.add(doc_id)
    order = [ids[i] for i in np.random.default_rng(seed).permutation(len(ids))]
    n_mega = int(n_docs * datagen_kw.get("skew_doc_pct", 0.0))
    keep = pa.array(_select_fixed_work(doc_cost, mega, order, n_docs, n_mega, round(n_docs * cost_per_doc)))

    docs = docs.filter(pc.is_in(docs["doc_id"], keep))
    golden = golden.filter(pc.is_in(golden["doc_id"], keep))
    refs = pa.array(sorted({s["media_ref"] for sp in docs["spans"].to_pylist() for s in sp if s["kind"] == "media"}))
    media = media.filter(pc.is_in(media["media_ref"], refs))
    if corrupt:
        payloads = media["payload"].to_pylist()
        for i in range(min(corrupt, len(payloads))):
            payloads[i] = b"\x89PNG\r\n\x1a\n" + b"\x00corrupt-payload" * 4
        media = media.set_column(1, "payload", pa.array(payloads, pa.binary()))
    pq.write_table(docs, paths["documents"], row_group_size=max(1, n_docs // 8))
    pq.write_table(media, paths["media_store"], row_group_size=1000)
    pq.write_table(golden, paths["golden_spans"])

    by_mime: dict[str, int] = {}
    payload_bytes = 0
    for p in media["payload"].to_pylist():
        by_mime[mime_of(p)] = by_mime.get(mime_of(p), 0) + 1
        payload_bytes += len(p)
    spans = [s for sp in golden["spans"].to_pylist() for s in sp]
    bases = {
        "docs": docs.num_rows,
        "spans": len(spans),
        "text_spans": sum(s["kind"] == "text" for s in spans),
        "media_spans": sum(s["kind"] == "media" for s in spans),
        "mega_docs": len(mega.intersection(keep.to_pylist())),
        "media_by_mime": by_mime,
        "payload_mb": payload_bytes / 2**20,
        "work_units": sum(doc_cost[d] for d in keep.to_pylist()),
    }
    with open(os.path.join(out_dir, "bases.json"), "w") as fh:
        json.dump(bases, fh)
    _seal(out_dir, params)
    return {"paths": paths, "bases": bases}


# -- operator tables --------------------------------------------------------

# Profile of the registry's sf0.1 test tables, written by profile_sf.py.
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf_profile.json")
# the box queries key a document as l_orderkey % 9973
BOX_DOC_MOD = 9973


def _weights(counts: dict) -> tuple[list, np.ndarray]:
    p = np.array(list(counts.values()), dtype=float)
    return list(counts), p / p.sum()


def _documents(rng: np.random.Generator, prof: dict, n: int) -> pa.Table:
    """Token frequencies, lengths and languages as measured; a near-duplicate
    is a copy of another doc with the marker token appended, as in sf0.1
    (copies of copies included)."""
    toks, p_tok = _weights(prof["token_counts"])
    lens, p_len = _weights(prof["length_counts"])
    n_dup = round(n * prof["near_dup_rows"] / prof["rows"])
    texts = [" ".join(rng.choice(toks, size=int(k), p=p_tok)) for k in rng.choice(lens, size=n - n_dup, p=p_len)]
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " " + prof["dup_marker"])
    texts = [texts[i] for i in rng.permutation(n)]
    langs, p_lang = _weights(prof["lang_counts"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(langs, size=n, p=p_lang)),
            "source": [f"src{i % prof['sources']}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, prof: dict, n: int) -> pa.Table:
    """Independent unit-norm Gaussian vectors: sf0.1 has no pair with
    cosine >= 0.9, so none is planted."""
    vecs = rng.normal(size=(n, prof["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, prof["labels"], n), pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator, prof: dict, box_docs: int) -> pa.Table:
    """sf0.1's lineitem restricted to the order keys of `box_docs` of the
    9973 box-query documents.  Each kept document gets as many rows as at
    sf0.1, so the per-document join sizes of the box queries are sf0.1's."""

    def ints(col: str, size: int) -> np.ndarray:
        lo, hi = prof[col]
        return rng.integers(int(lo), int(hi) + 1, size)

    lo, hi = prof["l_orderkey"]
    keys = np.arange(lo, hi + 1)
    keys = keys[keys % BOX_DOC_MOD < box_docs]
    n = round(prof["rows"] * len(keys) / (hi - lo + 1))
    day0, day1 = (np.datetime64(d, "D") for d in prof["l_shipdate"])
    ship = (day0 + rng.integers(0, (day1 - day0).astype(int) + 1, n)).astype("datetime64[us]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.choice(keys, n), pa.int64()),
            "l_partkey": pa.array(ints("l_partkey", n), pa.int64()),
            "l_suppkey": pa.array(ints("l_suppkey", n), pa.int64()),
            "l_linenumber": pa.array(ints("l_linenumber", n), pa.int32()),
            "l_quantity": ints("l_quantity", n).astype(float),
            "l_extendedprice": np.round(rng.uniform(*prof["l_extendedprice"], n), 2),
            "l_discount": rng.choice(prof["l_discount"], n),
            "l_tax": rng.choice(prof["l_tax"], n),
            "l_returnflag": pa.array(rng.choice(prof["l_returnflag"], n)),
            "l_linestatus": pa.array(rng.choice(prof["l_linestatus"], n)),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


def write_ops_tables(out_dir: str, seed: int, scale: float, box_docs: int) -> dict:
    """Registry input tables for one seed, drawn from the sf0.1 profile:
    documents and embeddings at `scale` times sf0.1's row counts, lineitem
    for `box_docs` box-query documents.  Returns {"dir", "bases"}."""
    with open(PROFILE) as fh:
        prof = json.load(fh)
    names = ["documents", "embeddings", "lineitem"]
    params = {"profile": prof, "seed": seed, "scale": scale, "box_docs": box_docs}
    if _fresh(out_dir, params):
        rng = np.random.default_rng(seed)
        tables = (
            _documents(rng, prof["documents"], max(50, round(prof["documents"]["rows"] * scale))),
            _embeddings(rng, prof["embeddings"], max(50, round(prof["embeddings"]["rows"] * scale))),
            _lineitem(rng, prof["lineitem"], box_docs),
        )
        for name, t in zip(names, tables):
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, t.num_rows // 4))
        _seal(out_dir, params)
    bases = {name: pq.read_metadata(os.path.join(out_dir, f"{name}.parquet")).num_rows for name in names}
    return {"dir": out_dir, "bases": bases}
