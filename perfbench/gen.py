"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from ``--seed``: the same seed
gives byte-identical inputs, another seed gives other values of the same
shape (row counts, chain lengths and value ranges are fixed; only the
draws change), so run-to-run differences measure the engine, not the
input size.

* :func:`make_genome` writes a GraphLab-format read file (the reference
  input format: ``id length content offset score succ...``) holding
  several independent forward chains plus low-score decoy children, and
  returns the chains so the oracle can fold them.
* :func:`make_tables` writes the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables as one parquet file
  each, in the schemas the registry's builders read.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASES = "ACGT"

# Chain lengths of the genome workload, in reads. Fixed across seeds so
# every seed does the same amount of work; the long tail is what makes
# the single-row merge fold's superlinear cost visible.
GENOME_CHAIN_LENGTHS = (300, 1200, 4800)
DECOY_EVERY = 7          # one low-score decoy child per this many chain reads


@dataclass
class Read:
    read_id: int
    offset: int
    content: str
    score: float
    dest_ids: list[int] = field(default_factory=list)

    @property
    def length(self) -> int:
        return len(self.content)


@dataclass
class Genome:
    """A generated read set: ``chains[i]`` lists the read ids of chain i
    in path order; ``reads`` maps every id (chain reads and decoys) to
    its read; ``best_next`` is the successor the argmax must choose (0
    for a chain tail and for every decoy)."""

    chains: list[list[int]]
    reads: dict[int, Read]
    best_next: dict[int, int]


def _dna(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(BASES) for _ in range(n))


def make_genome(seed: int, path: str) -> Genome:
    """Write a GraphLab text read file at ``path`` and return its truth.

    Each chain walks forward along a synthetic reference: read i+1 starts
    inside read i (overlap, case B), exactly at its last base (case C),
    or just past its end (gap, case D), so the fold exercises every
    forward merge rule. Every ``DECOY_EVERY``-th chain read also points
    at a decoy leaf whose score is below the true child's, so the
    best-child argmax has a real choice to make.
    """
    rng = random.Random(seed)
    lengths = GENOME_CHAIN_LENGTHS
    ids = list(range(1, 1 + sum(lengths) * 2))
    rng.shuffle(ids)
    next_id = iter(ids)
    reads: dict[int, Read] = {}
    chains: list[list[int]] = []
    best_next: dict[int, int] = {}
    for n in rng.sample(list(lengths), len(lengths)):
        offset = rng.randrange(0, 10_000)
        chain = [next(next_id) for _ in range(n)]
        for i, rid in enumerate(chain):
            length = rng.randrange(80, 151)
            reads[rid] = Read(rid, offset, _dna(rng, length), round(rng.uniform(0.9, 1.0), 6))
            case = rng.random()
            if case < 0.7:
                offset += rng.randrange(1, length - 1)      # B: starts inside
            elif case < 0.85:
                offset += length - 1                        # C: at the last base
            else:
                offset += length + rng.randrange(0, 20)     # D: gap after
        for i, rid in enumerate(chain):
            if i + 1 < n:
                child = chain[i + 1]
                reads[rid].dest_ids.append(child)
                best_next[rid] = child
                if i % DECOY_EVERY == 0:
                    decoy = next(next_id)
                    parent = reads[rid]
                    reads[decoy] = Read(
                        decoy,
                        parent.offset + rng.randrange(1, parent.length),
                        _dna(rng, rng.randrange(80, 151)),
                        round(rng.uniform(0.3, 0.85), 6),
                    )
                    best_next[decoy] = 0
                    parent.dest_ids.insert(rng.randrange(0, 2), decoy)
            else:
                best_next[rid] = 0
        chains.append(chain)
    lines = [
        " ".join(
            [str(r.read_id), str(r.length), r.content, str(r.offset), f"{r.score:.6f}"]
            + [str(d) for d in r.dest_ids]
        )
        for r in reads.values()
    ]
    rng.shuffle(lines)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return Genome(chains, reads, best_next)


# ---------------------------------------------------------------------------
# relational / text / event tables
# ---------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
ORDER_EPOCH = datetime(1995, 1, 1)
EVENT_EPOCH = datetime(2024, 1, 1)


def _ts(epoch: datetime, micros: np.ndarray) -> pa.Array:
    """Naive (wall-clock) microsecond timestamps ``epoch + micros``."""
    base = int((epoch - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    # near duplicates (an earlier doc plus one token) and a few exact
    # copies, so dedup and boilerplate operators have work to find
    for i in rng.choice(np.arange(n // 2, n), size=n // 20, replace=False):
        out[i] = out[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 600), replace=False):
        out[i] = out[int(rng.integers(0, n // 2))]
    return out


def make_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write every table at scale factor ``sf``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))

    def pick(choices: list[str], n: int) -> pa.Array:
        return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(ORDER_EPOCH, rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts(ORDER_EPOCH, rng.integers(1, 2500, n_li) * DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(EVENT_EPOCH, np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
    }
    texts = _texts(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
