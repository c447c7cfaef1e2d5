"""Seeded input generator for the benchmark.

The engine only ever sees the tables written here. They are built in two
steps:

1. A fixed *base* set (lineitem + part, documents, embeddings) with the
   shapes and value ranges of the engine's synthetic star-schema test
   tables, drawn from a constant numpy seed. The base never changes, so
   every benchmark seed measures the same amount of work.
2. ``--seed`` then picks, with its own generator:
   * the replica offsets. Each replica is the base pushed through the
     replica transforms of ``tools/gen_sf.py`` (imported, not copied):
     a per-replica key stride, a per-replica Caesar rotation of document
     text and a per-replica orthogonal sign flip of the embeddings.
     These keep every within-replica statistic; the offsets are drawn
     so that replicas of one embedding are no near-duplicates;
   * the planted rows: invalid lineitem rows the cleaning stage must
     drop, near-duplicate documents the dedup tier must drop, and the
     collinear embedding copies the daily SemDeDup ticks must prune;
   * the split seed the workloads pass on (train/val split, model
     train/test split).

Tables are written with pyarrow, so generation runs no Spark job.
"""

from __future__ import annotations

import itertools
import os
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from gen_sf import KEY_STRIDE, _shifted_alphabet, _sign_pattern  # noqa: E402

BASE_SEED = 20240611

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data customer join vector"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10
# Unit cluster centres under this much noise per dimension give a vector
# about 0.07 cosine to its centre and a nearest neighbour at about 0.4,
# as in the star-schema test tables: the labels barely cluster.
EMB_NOISE = 1.9
SHIP_START = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499  # to 2001-11-04
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]


@dataclass(frozen=True)
class Scale:
    """Table sizes of one benchmark scale. Row counts are per replica."""

    replicas: int
    lineitem: int
    part: int
    documents: int
    embeddings: int
    bad_lineitems: int
    near_dups: int
    collinear_copies: int


SCALES = {
    # 30k lineitem rows (1/20 of sf0.1), 1.2k documents with sf0.1's 5% of
    # near-duplicates, 800 embeddings. Every run also pays the session start
    # and a cold warm-up pass (~40 s together), so larger inputs would not
    # fit the benchmark's time budget.
    "bench": Scale(replicas=2, lineitem=15_000, part=2_000, documents=600,
                   embeddings=400, bad_lineitems=24, near_dups=60,
                   collinear_copies=12),
    # small enough that a pass costs little more than its fixed per-job
    # work; the smoke test and the warm-up pass run at this scale
    "smoke": Scale(replicas=2, lineitem=1_000, part=100, documents=100,
                   embeddings=100, bad_lineitems=6, near_dups=10,
                   collinear_copies=4),
}


@dataclass
class Inputs:
    """Where the generated tables are, and what the seed planted in them."""

    sf_dir: str
    split_seed: int
    valid_lineitems: int = 0
    near_dup_ids: list[int] = field(default_factory=list)
    near_dup_sources: list[int] = field(default_factory=list)
    planted_copy_ids: list[int] = field(default_factory=list)
    batch_rows: int = 0
    input_bytes: dict[str, int] = field(default_factory=dict)

    def table_bytes(self, *names: str) -> int:
        return sum(self.input_bytes[n] for n in names)


# --- base tables (constant) -------------------------------------------------


def _base_lineitem(rng: np.random.Generator, n: int, n_part: int) -> dict:
    days = rng.integers(0, SHIP_DAYS, n)
    return {
        "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": (SHIP_START + days).astype("M8[us]"),
    }


def _base_part(rng: np.random.Generator, n: int) -> dict:
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": rng.choice(names, n),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": rng.choice(np.array(PART_TYPES), n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    }


def _base_documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(vocab, int(k))) for k in lengths]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), n, p=LANG_P),
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n)]),
    }


def _base_embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = centers[label] + rng.normal(scale=EMB_NOISE, size=(n, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": vec.astype(np.float32),
        "label": label.astype(np.int32),
    }


# --- replicas and planted rows (seeded) -------------------------------------


def _concat(parts: list[dict]) -> dict:
    return {c: np.concatenate([np.asarray(p[c]) for p in parts])
            for c in parts[0]}


def _replica_offsets(rng: np.random.Generator, n: int) -> list[int]:
    """``n`` distinct replica offsets k in 1..21: non-zero, so no replica
    is the identity, and at most 21, which keeps every strided key below
    2^31. Many pairs of sign patterns are nearly equal or opposite, which
    would make the replicas of one embedding near-duplicates of each
    other; only pairs that agree on 3/8 to 5/8 of the dimensions are
    drawn. Over all such pairs, replicas of the base embeddings are at
    most 0.74 cosine apart, below the SemDeDup threshold of 0.9."""
    signs = {k: np.array(_sign_pattern(k, EMB_DIM)) for k in range(1, 22)}
    while True:
        ks = sorted(int(k) for k in rng.choice(np.arange(1, 22), n,
                                               replace=False))
        if all(abs(signs[a] @ signs[b]) <= EMB_DIM / 4
               for a, b in itertools.combinations(ks, 2)):
            return ks


def _lineitem_replica(base: dict, k: int) -> dict:
    rep = dict(base)
    for c in ("l_orderkey", "l_partkey", "l_suppkey"):
        rep[c] = base[c] + k * KEY_STRIDE
    return rep


def _part_replica(base: dict, k: int) -> dict:
    rep = dict(base)
    rep["p_partkey"] = base["p_partkey"] + k * KEY_STRIDE
    return rep


def _documents_replica(base: dict, k: int) -> dict:
    src, dst = _shifted_alphabet(k)
    table = str.maketrans(src, dst)
    rep = dict(base)
    rep["doc_id"] = base["doc_id"] + k * KEY_STRIDE
    rep["text"] = np.array([t.translate(table) for t in base["text"]],
                           dtype=object)
    return rep


def _embeddings_replica(base: dict, k: int) -> dict:
    signs = np.array(_sign_pattern(k, EMB_DIM), dtype=np.float32)
    rep = dict(base)
    rep["vec_id"] = base["vec_id"] + k * KEY_STRIDE
    rep["embedding"] = base["embedding"] * signs
    return rep


def _plant_bad_lineitems(rng: np.random.Generator, li: dict,
                         n_bad: int) -> None:
    """Break ``n_bad`` seed-chosen rows so the cleaning stage must drop
    them: a null quantity, an out-of-range quantity or a negative price,
    in turn. The columns become object arrays to hold the nulls."""
    rows = rng.choice(len(li["l_quantity"]), n_bad, replace=False)
    qty = li["l_quantity"].astype(object)
    price = li["l_extendedprice"].copy()
    for i, r in enumerate(rows):
        if i % 3 == 0:
            qty[r] = None
        elif i % 3 == 1:
            qty[r] = 75.0
        else:
            price[r] = -price[r]
    li["l_quantity"] = qty
    li["l_extendedprice"] = price


def _plant_near_dups(rng: np.random.Generator, docs: dict, n: int,
                     min_words: int = 40) -> tuple[list[int], list[int]]:
    """Append ``n`` near-duplicates: a seed-chosen long document with the
    word "dup" appended, as in the star-schema test tables, under a new,
    larger id, so ``min_id`` keeps the original."""
    long_rows = np.flatnonzero(
        np.array([t.count(" ") + 1 >= min_words for t in docs["text"]]))
    rows = rng.choice(long_rows, n, replace=False)
    next_id = int(docs["doc_id"].max()) + 1
    new_ids = list(range(next_id, next_id + n))
    extra = {
        "doc_id": np.array(new_ids, dtype=np.int64),
        "text": np.array([docs["text"][r] + " dup" for r in rows],
                         dtype=object),
        "lang": docs["lang"][rows],
        "source": docs["source"][rows],
    }
    merged = _concat([docs, extra])
    docs.clear()
    docs.update(merged)
    return new_ids, [int(docs["doc_id"][r]) for r in rows]


def _take(cols: dict, rows) -> dict:
    return {c: v[rows] for c, v in cols.items()}


def _write_semantic_tables(rng, emb: dict, scale: Scale, inputs: "Inputs",
                           write) -> None:
    """Split the embeddings into the SemDeDup corpus (80%) and a daily
    batch: the seed-chosen 20% holdout plus collinear (x2) copies of
    corpus members under new ids, which the tick must prune."""
    n = len(emb["vec_id"])
    holdout = np.zeros(n, dtype=bool)
    holdout[rng.choice(n, n // 5, replace=False)] = True
    corpus = _take(emb, ~holdout)
    members = rng.choice(len(corpus["vec_id"]), scale.collinear_copies,
                         replace=False)
    copies = _take(corpus, members)
    next_id = int(emb["vec_id"].max()) + 1
    copies["vec_id"] = np.arange(next_id, next_id + len(members),
                                 dtype=np.int64)
    copies["embedding"] = copies["embedding"] * np.float32(2.0)
    inputs.planted_copy_ids = copies["vec_id"].tolist()
    inputs.batch_rows = int(holdout.sum()) + len(members)
    write("sem_corpus", corpus)
    write("sem_batch", _concat([_take(emb, holdout), copies]))


def _write(path: str, cols: dict, schema: pa.Schema) -> int:
    arrays = []
    for f in schema:
        v = cols[f.name]
        if f.name == "embedding":
            arrays.append(pa.array(list(v), type=f.type))
        else:
            arrays.append(pa.array(v, type=f.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
    return os.path.getsize(path)


SCHEMAS = {
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
}
SCHEMAS["sem_corpus"] = SCHEMAS["sem_batch"] = SCHEMAS["embeddings"]



def generate(out_dir: str, seed: int, scale: Scale, tables) -> Inputs:
    """Write the seeded tables named in ``tables`` to ``out_dir`` as
    ``<table>.parquet`` and describe what was planted in them."""
    os.makedirs(out_dir, exist_ok=True)
    base_rng = np.random.default_rng(BASE_SEED)
    rng = np.random.default_rng(seed)
    ks = _replica_offsets(rng, scale.replicas)
    inputs = Inputs(sf_dir=out_dir, split_seed=int(rng.integers(1, 2**31 - 1)))

    def write(name: str, cols: dict) -> None:
        inputs.input_bytes[name] = _write(
            os.path.join(out_dir, f"{name}.parquet"), cols, SCHEMAS[name])

    if "lineitem" in tables:
        base = _base_lineitem(base_rng, scale.lineitem, scale.part)
        li = _concat([_lineitem_replica(base, k) for k in ks])
        _plant_bad_lineitems(rng, li, scale.bad_lineitems)
        inputs.valid_lineitems = len(li["l_orderkey"]) - scale.bad_lineitems
        write("lineitem", li)
        part = _base_part(np.random.default_rng(BASE_SEED + 1), scale.part)
        write("part", _concat([_part_replica(part, k) for k in ks]))
    if "documents" in tables:
        base = _base_documents(np.random.default_rng(BASE_SEED + 2),
                               scale.documents)
        docs = _concat([_documents_replica(base, k) for k in ks])
        inputs.near_dup_ids, inputs.near_dup_sources = _plant_near_dups(
            rng, docs, scale.near_dups)
        docs["n_chars"] = np.array([len(t) for t in docs["text"]],
                                   dtype=np.int64)
        write("documents", docs)
    if "sem_corpus" in tables:
        base = _base_embeddings(np.random.default_rng(BASE_SEED + 3),
                                scale.embeddings)
        emb = _concat([_embeddings_replica(base, k) for k in ks])
        _write_semantic_tables(rng, emb, scale, inputs, write)
    return inputs
