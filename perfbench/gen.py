"""Seeded input generator for the benchmark.

Every input a workload reads is made here from ``--seed``: the
``documents`` corpus with planted near-duplicate clusters, clustered
``embeddings`` with planted near-copies, the ``events`` table, a
TPC-H-ish star schema, and an image tree of grayscale PNGs plus a
5-file parquet copy of it for the streaming source. No fixture, download or shared test
corpus is read. The same seed always gives byte-identical files.

The value domains follow the tables the engine's queries were written
against (30-word vocabulary, 5 languages, 64-d unit embeddings in 10
labels, 5 event types, 5 regions, 25 nations, 5 market segments, 5 image
labels), so filters and joins select non-trivial row sets.

Run standalone (``python3 perfbench/gen.py WORKLOAD SEED OUT_DIR``) it
writes the inputs and prints the manifest as JSON.
"""

from __future__ import annotations

import json
import struct
import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("curate_text", "ingest_infer", "sql_analytics")

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
LABELS = ("daisy", "dandelion", "roses", "sunflowers", "tulips")

N_DOCS = 5_000
DOC_DUP_RATE = 0.05  # share of documents that are planted near-copies
MIN_BASE_WORDS = 30  # 3-shingle Jaccard >= 28/29 with one appended token
N_VECS = 2_000
VEC_DIM = 64
VEC_DUP_RATE = 0.05
N_EVENTS = 100_000
SQL_SF = 0.1
N_IMAGES = 300
STREAM_FILES = 5


def _rng(seed: int, workload: str, table: str) -> np.random.Generator:
    """One independent stream per (seed, workload, table)."""
    key = [seed, WORKLOADS.index(workload)] + list(table.encode())
    return np.random.default_rng(key)


def _write(table: pa.Table, path: Path) -> int:
    pq.write_table(table, path)
    return path.stat().st_size


# --------------------------------------------------------------------------
# documents / embeddings
# --------------------------------------------------------------------------
def documents(rng: np.random.Generator, n: int = N_DOCS) -> tuple[pa.Table, list[list[int]]]:
    """Random 10-100 word texts over VOCAB; DOC_DUP_RATE of the ids are
    near-copies (base text + " dup") of a base document with at least
    MIN_BASE_WORDS words. Returns the table and the planted clusters as
    [base_id, copy_id, ...] lists."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    n_copies = int(round(n * DOC_DUP_RATE))
    ids = rng.permutation(n)
    copy_ids = ids[:n_copies]
    base_pool = np.array([i for i in ids[n_copies:] if lens[i] >= MIN_BASE_WORDS])
    # a few bases get two copies, so clusters of three exist too
    bases = rng.choice(base_pool, size=n_copies, replace=True)
    clusters: dict[int, list[int]] = {}
    for c, b in zip(copy_ids.tolist(), bases.tolist()):
        texts[c] = texts[b] + " dup"
        clusters.setdefault(b, [b]).append(c)
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, sorted(sorted(c) for c in clusters.values())


def embeddings(rng: np.random.Generator, n: int = N_VECS) -> tuple[pa.Table, list[list[int]]]:
    """Unit 64-d float32 vectors around 10 label centres; VEC_DUP_RATE of
    the ids are near-copies (cosine > 0.99) of another vector. Returns
    the table and the planted (original, copy) pairs."""
    labels = rng.integers(0, 10, n)
    centres = rng.standard_normal((10, VEC_DIM))
    centres *= 0.6 / np.linalg.norm(centres, axis=1, keepdims=True)
    x = centres[labels] + 0.125 * rng.standard_normal((n, VEC_DIM))
    n_copies = int(round(n * VEC_DUP_RATE))
    ids = rng.permutation(n)
    copies, originals = ids[:n_copies], ids[n_copies : 2 * n_copies]
    x[copies] = x[originals] + 0.002 * rng.standard_normal((n_copies, VEC_DIM))
    labels[copies] = labels[originals]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pairs = sorted(sorted(p) for p in zip(originals.tolist(), copies.tolist()))
    return table, pairs


# --------------------------------------------------------------------------
# events
# --------------------------------------------------------------------------
_DAY_US = 86_400 * 1_000_000
_JAN_2024_US = 19723 * _DAY_US


def events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    """Time-ordered click/view/purchase/... events of 1,500 users over
    the 30 days from 2024-01-01, microsecond timestamps."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _JAN_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n)
            ],
            "value": np.round(np.minimum(rng.gamma(2.0, 50.0, n), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


# --------------------------------------------------------------------------
# TPC-H-ish star schema
# --------------------------------------------------------------------------
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _dates(rng: np.random.Generator, n: int, first_day: int, n_days: int) -> pa.Array:
    days = _EPOCH_1995 + first_day + rng.integers(0, n_days, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def star_schema(seed: int, workload: str, sf: float = SQL_SF) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem at scale
    factor `sf` (lineitem = 6M x sf rows)."""

    def r(t: str) -> np.random.Generator:
        return _rng(seed, workload, t)

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
    }
    g = r("customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(g, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[g.integers(0, 5, n_cust)],
        }
    )
    g = r("supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(g, n_supp, -999.99, 9999.99),
        }
    )
    g = r("part")
    adj = np.array(["large", "hot", "small", "cold", "bright", "dark", "smooth", "rough"])
    noun = np.array(["ring", "bolt", "gear", "plate", "screw", "valve", "pipe", "nut"])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": np.char.add(
                np.char.add(adj[g.integers(0, 8, n_part)], " "), noun[g.integers(0, 8, n_part)]
            ),
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[g.integers(0, 25, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                g.integers(0, 6, n_part)
            ],
            "p_size": pa.array(g.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    g = r("orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
            "o_totalprice": _money(g, n_ord, 1000.0, 500000.0),
            "o_orderdate": _dates(g, n_ord, 0, 2404),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[g.integers(0, 5, n_ord)],
        }
    )
    g = r("lineitem")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(g.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(g.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(g, n_line, 900.0, 105000.0),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
            "l_shipdate": _dates(g, n_line, 1, 2499),
        }
    )
    return out


# --------------------------------------------------------------------------
# image tree
# --------------------------------------------------------------------------
def png_gray(pixels: np.ndarray) -> bytes:
    """Minimal 8-bit grayscale PNG (filter 0 on every row)."""
    h, w = pixels.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(">I", zlib.crc32(body))

    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def predict_image(content: bytes) -> list[str]:
    """The benchmark's deterministic stand-in model: class and a
    probabilities JSON from the byte sum of the encoded image."""
    s = int(np.frombuffer(content, np.uint8).sum())
    return [LABELS[s % len(LABELS)], json.dumps({"p": s % 100})]


def image_tree(rng: np.random.Generator, root: Path, n: int = N_IMAGES) -> dict:
    """`flower_photos/<label>/img_<i>.png` with seeded per-label counts and
    8-16 px noise textures, plus the same rows as STREAM_FILES parquet
    files under `stream_src/` for the streaming source."""
    counts = rng.multinomial(n - 5 * 45, [0.2] * 5) + 45
    base = root / "flower_photos"
    rows: dict[str, list] = {"path": [], "label": [], "length": [], "content": []}
    for label, k in zip(LABELS, counts.tolist()):
        d = base / label
        d.mkdir(parents=True)
        for i in range(k):
            w, h = rng.integers(8, 17, 2)
            data = png_gray(rng.integers(0, 256, (h, w), dtype=np.uint8))
            (d / f"img_{i:04d}.png").write_bytes(data)
            rows["path"].append(f"flower_photos/{label}/img_{i:04d}.png")
            rows["label"].append(label)
            rows["length"].append(len(data))
            rows["content"].append(data)
    src = root / "stream_src"
    src.mkdir()
    order = rng.permutation(n)
    table = pa.table(
        {
            "path": pa.array(rows["path"]),
            "label": pa.array(rows["label"]),
            "length": pa.array(rows["length"], pa.int64()),
            "content": pa.array(rows["content"], pa.binary()),
        }
    ).take(pa.array(order))
    src_bytes = 0
    for f, part in enumerate(np.array_split(np.arange(n), STREAM_FILES)):
        src_bytes += _write(table.take(pa.array(part)), src / f"part-{f:05d}.parquet")
    return {
        "image_dir": str(base),
        "stream_src": str(src),
        "label_counts": dict(zip(LABELS, counts.tolist())),
        "fanout_rows": int((counts**2).sum()),
        "predictions": {p: predict_image(c) for p, c in zip(rows["path"], rows["content"])},
        "image_bytes": int(sum(rows["length"])),
        "stream_src_bytes": src_bytes,
    }


# --------------------------------------------------------------------------
def generate(workload: str, seed: int, out_dir: str | Path) -> dict:
    """Write every input of `workload` under `out_dir`; return the manifest
    (input rows and bytes, planted duplicates and their rate)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows: dict[str, int] = {}
    nbytes: dict[str, int] = {}
    man: dict = {"workload": workload, "seed": seed, "data_dir": str(out)}

    def put(name: str, table: pa.Table) -> None:
        rows[name] = table.num_rows
        nbytes[name] = _write(table, out / f"{name}.parquet")

    if workload in ("curate_text", "sql_analytics"):
        docs, clusters = documents(_rng(seed, workload, "documents"))
        put("documents", docs)
        man["doc_clusters"] = clusters
        man["doc_dup_rate"] = sum(len(c) - 1 for c in clusters) / docs.num_rows
    if workload == "curate_text":
        emb, pairs = embeddings(_rng(seed, workload, "embeddings"))
        put("embeddings", emb)
        man["vec_pairs"] = pairs
        man["vec_dup_rate"] = len(pairs) / emb.num_rows
    if workload == "sql_analytics":
        put("events", events(_rng(seed, workload, "events")))
        for name, table in star_schema(seed, workload).items():
            put(name, table)
    if workload == "ingest_infer":
        tree = image_tree(_rng(seed, workload, "images"), out)
        man.update(tree)
        rows["images"] = N_IMAGES
        nbytes["images"] = tree["image_bytes"]
        nbytes["stream_src"] = tree["stream_src_bytes"]
    man["input_rows"] = rows
    man["input_bytes"] = nbytes
    return man


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py WORKLOAD SEED OUT_DIR")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
