"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files.  Each returns the ground truth that the output
checks in :mod:`workloads` compare against, so a check never has to trust
the engine it is checking.

Inputs are written under ``<work>/inputs/<workload>-s<seed>-n<size>`` and
reused when that directory already holds a complete copy (a ``truth.json``
is written last).  Generation runs before the Spark session starts, so it
counts in neither ``setup_s`` nor any operation time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# FK chain customer <- orders <- lineitem
ORDERS_PER_CUSTOMER = 4
LINES_PER_ORDER = 3
SUBSET_PERCENT = 30

_WORDS = (
    "alpha bravo cedar delta ember fjord grove harbor island jasper kettle "
    "lumen meadow nectar orchid pepper quartz raven saddle timber umber "
    "velvet willow xenon yarrow zephyr amber basil copper dune falcon "
    "garnet hazel indigo juniper kelp lotus maple nova olive pine"
).split()
WORD_SET = frozenset(_WORDS)


def _input_dir(work: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}")


def _cached(work, workload, seed, size, build):
    """Return the truth of a complete cached input, else build it fresh."""
    root = _input_dir(work, workload, seed, size)
    marker = os.path.join(root, "truth.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    truth = build(root, random.Random(f"{workload}:{seed}"))
    with open(marker, "w") as f:
        json.dump(truth, f)
    return root, truth


# ---------------------------------------------------------------------------
# customer / orders / lineitem rows for lifecycle
# ---------------------------------------------------------------------------

def source_email(k: int) -> str:
    return f"u{k}.src@corp{k % 97}.invalid"


def source_phone(k: int) -> str:
    return f"+1-555-{k // 10000 % 1000:03d}-{k % 10000:04d}"


def source_card(k: int) -> str:
    n = 4000_0000_0000_0000 + k * 7919
    s = f"{n:016d}"
    return "-".join(s[i:i + 4] for i in range(0, 16, 4))


def order_comment(k: int) -> str:
    return f"order {k} {_WORDS[k % len(_WORDS)]} {_WORDS[k * 7 % len(_WORDS)]}"


def line_note(order: int, line: int) -> str:
    return f"line {order}.{line} {_WORDS[(order + line) % len(_WORDS)]}"


def customer_segment(k: int) -> str:
    return ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")[k % 5]


def _tables(rng: random.Random, customers: int) -> dict[str, list[dict]]:
    """Rows per table, keys dense from 1; values vary with the seed."""
    cust, orders, lines = [], [], []
    okey = 0
    for c in range(1, customers + 1):
        cust.append({
            "c_custkey": c,
            "c_first_name": rng.choice(_WORDS).capitalize(),
            "c_email": source_email(c),
            "c_phone": source_phone(c),
            "c_card": source_card(c),
            "c_address": f"{rng.randrange(1, 9999)} {rng.choice(_WORDS)} street",
            "c_segment": customer_segment(c),
            "c_balance": round(rng.uniform(-999.0, 9999.0), 2),
        })
        for _ in range(ORDERS_PER_CUSTOMER):
            okey += 1
            orders.append({
                "o_orderkey": okey,
                "o_custkey": c,
                "o_status": rng.choice("FOP"),
                "o_total": round(rng.uniform(10.0, 5000.0), 2),
                "o_comment": order_comment(okey),
            })
            for ln in range(1, LINES_PER_ORDER + 1):
                lines.append({
                    "l_orderkey": okey,
                    "l_linenumber": ln,
                    "l_partkey": rng.randrange(1, 2000),
                    "l_quantity": rng.randrange(1, 50),
                    "l_price": round(rng.uniform(1.0, 900.0), 2),
                    "l_note": line_note(okey, ln),
                })
    return {"customer": cust, "orders": orders, "lineitem": lines}


def subset_seed_kept(key: int, percent: int, salt: str = "subset") -> bool:
    """Model of ``operators.sample.hash_percent_filter``: a row is kept when
    the first 48 bits of md5(salt || key) modulo 100 fall below percent.
    With children included, the subset then holds every order and line of
    each kept customer and nothing else."""
    h = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
    return int(h[:12], 16) % 100 < percent


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def build_lifecycle(work: str, seed: int, customers: int,
                    files_per_table: int = 4):
    """Postgres ``--inserts`` style dump: one INSERT per row, each table
    split over ``files_per_table`` ``.sql`` files (one parse task each)."""

    def build(root, rng):
        tables = _tables(rng, customers)
        sql_dir = os.path.join(root, "sql")
        os.makedirs(sql_dir)
        for t, rows in tables.items():
            cols = ", ".join(rows[0])
            chunk = -(-len(rows) // files_per_table)
            for i in range(files_per_table):
                with open(os.path.join(sql_dir, f"{t}_{i}.sql"), "w") as f:
                    f.write(f"-- PostgreSQL database dump, table {t} part {i}\n")
                    for r in rows[i * chunk:(i + 1) * chunk]:
                        vals = ", ".join(_sql_literal(v) for v in r.values())
                        f.write(f"INSERT INTO {t} ({cols}) VALUES ({vals});\n")
        kept = sum(subset_seed_kept(c, SUBSET_PERCENT)
                   for c in range(1, customers + 1))
        return {
            "rows": {t: len(r) for t, r in tables.items()},
            "subset_rows": {
                "customer": kept,
                "orders": kept * ORDERS_PER_CUSTOMER,
                "lineitem": kept * ORDERS_PER_CUSTOMER * LINES_PER_ORDER,
            },
            "source_bytes": tree_bytes(sql_dir),
        }

    return _cached(work, "lifecycle", seed, customers, build)


# ---------------------------------------------------------------------------
# corpus with planted PII and planted near-duplicates
# ---------------------------------------------------------------------------

DOC_WORDS = 120            # tokens per document body
# every 4th base doc gets 2 near-dup copies and 3 of every 5 carry planted
# PII, so document and pair counts do not depend on the seed
COPIES = (2, 0, 0, 0)
PII_SHARE = (True, True, True, False, False)
_VOCAB = [f"{a}{b}" for a in _WORDS for b in _WORDS]   # 1600 tokens


def _pii_snippet(kind: int, rng: random.Random) -> str:
    k = rng.randrange(10**6)
    return (
        f"mail {source_email(k)} now",
        f"call {k % 900 + 100}-{k % 800 + 100}-{k % 9000 + 1000} today",
        f"card {source_card(k).replace('-', ' ')} used",
        f"ssn {k % 900 + 100}-{k % 90 + 10}-{k % 9000 + 1000} filed",
        f"host {k % 200 + 10}.{k % 250}.{k % 7}.{k % 199 + 1} seen",
    )[kind]


def build_corpus(work: str, seed: int, base_docs: int, files: int = 4):
    """``base_docs`` unrelated documents; every 4th gets 2 copies that
    differ by one substituted word and by the value of their planted PII
    (same kind, same position).  After scrubbing, a copy shares about 0.95
    of its word trigrams with its base, while unrelated documents share
    none, so the survivors after dedup are exactly the base documents.
    Document words are letters only: a digit or ``@`` left in scrubbed text
    is residual PII."""

    def build(root, rng):
        docs = []
        for b in range(base_docs):
            body = [rng.choice(_VOCAB) for _ in range(DOC_WORDS)]
            variants = [body]
            for _ in range(COPIES[b % len(COPIES)]):
                v = list(body)
                v[rng.randrange(DOC_WORDS)] = rng.choice(_VOCAB)
                variants.append(v)
            pii = (rng.randrange(5), rng.randrange(1, DOC_WORDS)) \
                if PII_SHARE[b % len(PII_SHARE)] else None
            for words in variants:
                if pii:
                    words = list(words)
                    words.insert(pii[1], _pii_snippet(pii[0], rng))
                docs.append(" ".join(words))
        rng.shuffle(docs)
        d = os.path.join(root, "docs.parquet")
        os.makedirs(d)
        chunk = -(-len(docs) // files)
        for i in range(files):
            lo = i * chunk
            texts = docs[lo:lo + chunk]
            ids = pa.array(range(lo + 1, lo + len(texts) + 1), pa.int64())
            pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                           os.path.join(d, f"part-{i:05d}.parquet"))
        return {
            "rows": {"docs": len(docs)},
            "survivors": base_docs,
            "source_bytes": tree_bytes(d),
        }

    return _cached(work, "corpus_scrub_dedup", seed, base_docs, build)


def tree_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the data files under ``path`` (hidden checksum files left
    out) whose names end with ``suffix``."""
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if f.endswith(suffix) and not f.startswith("."))
