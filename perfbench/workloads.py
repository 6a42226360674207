"""The two benchmark workloads: one timed operation each, plus its checks.

An operation runs in its own fresh directory (datastore root, restore
destination, corpus output), so nothing grows from one iteration to the
next.  ``run_op`` times the operation, split into its dump and restore
phases where it has both; ``check`` reads
what the operation wrote, with plain Python, and returns a list of problems
(empty when the output is right).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

import inputs

ENCRYPTION_KEY = "perfbench-static-key"


@dataclass
class OpResult:
    dump_s: float
    restore_s: float
    stored_bytes: int
    info: dict = field(default_factory=dict)

    @property
    def op_s(self) -> float:
        return self.dump_s + self.restore_s


# ---------------------------------------------------------------------------
# restored INSERT text
# ---------------------------------------------------------------------------

_INSERT = re.compile(r"^INSERT INTO (\w+) \(([^)]*)\) VALUES \((.*)\);$")


def _read_inserts(dest: str) -> dict[str, list[dict]]:
    """{table: [row dict]} from the part files a sqltext restore wrote.
    Generated values hold no ``, `` and no quote, so a split is exact."""
    out: dict[str, list[dict]] = {}
    for table in sorted(os.listdir(dest)):
        tdir = os.path.join(dest, table)
        rows = out.setdefault(table, [])
        for part in sorted(os.listdir(tdir)):
            if part.startswith((".", "_")):
                continue
            with open(os.path.join(tdir, part)) as f:
                for line in f:
                    m = _INSERT.match(line.rstrip("\n"))
                    if not m or m.group(1) != table:
                        raise ValueError(f"malformed restored line: {line[:80]!r}")
                    vals = [v[1:-1] if v.startswith("'") else v
                            for v in m.group(3).split(", ")]
                    rows.append(dict(zip(m.group(2).split(", "), vals)))
    return out


def _check_masked_customers(rows: list[dict]) -> list[str]:
    """No original PII value survives in restored customer rows."""
    leaks = 0
    for r in rows:
        k = int(r["c_custkey"])
        if (r["c_email"] == inputs.source_email(k)
                or r["c_phone"] == inputs.source_phone(k)
                or r["c_card"] == inputs.source_card(k)
                or r["c_first_name"].lower() in inputs.WORD_SET
                or not r["c_address"].endswith("*" * 10)):
            leaks += 1
    return [f"{leaks} customer rows keep an original PII value"] if leaks else []


# ---------------------------------------------------------------------------
# lifecycle: DumpPipeline + RestorePipeline
# ---------------------------------------------------------------------------

PII_RULES = [
    {"name": "c_first_name", "transformer_name": "first-name"},
    {"name": "c_email", "transformer_name": "email"},
    {"name": "c_phone", "transformer_name": "phone-number"},
    {"name": "c_card", "transformer_name": "credit-card"},
    {"name": "c_address", "transformer_name": "redacted"},
]


class Lifecycle:
    """Chunked Postgres INSERT dump -> 30% customer subset with children ->
    PII transformers -> one encrypted column, zstd (``DumpPipeline.run``)
    -> sqltext restore (``RestorePipeline.run``)."""

    name = "lifecycle"
    phases = ("dump_s", "restore_s")

    def __init__(self, work: str, seed: int, size: int):
        self.root, self.truth = inputs.build_lifecycle(work, seed, size)

    def config_dict(self, op_dir: str) -> dict:
        return {
            "encryption_key": ENCRYPTION_KEY,
            "source": {
                "connection_uri": "sqltext://" + os.path.join(self.root, "sql"),
                "transformers": [{"table": "customer", "columns": PII_RULES}],
                "database_subset": {
                    "table": "customer", "strategy_name": "random",
                    "strategy_options": {"percent": inputs.SUBSET_PERCENT}},
                "compression": True,
            },
            "datastore": {"dir": os.path.join(op_dir, "store"),
                          "encrypted_columns": {"orders": ["o_comment"]}},
            "destination": {
                "connection_uri": "sqltext://" + os.path.join(op_dir, "restore"),
                "wipe_database": True,
            },
        }

    def fk_edges(self):
        from replibyte_spark.operators.subset import FkEdge

        return [FkEdge("orders", "o_custkey", "customer", "c_custkey"),
                FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey")]

    def rows_in(self) -> int:
        return sum(self.truth["rows"].values())

    def run_op(self, spark, op_dir: str) -> OpResult:
        from replibyte_spark.config import Config
        from replibyte_spark.plans.pipeline import DumpPipeline, RestorePipeline

        cfg = Config.from_dict(self.config_dict(op_dir))
        t0 = time.perf_counter()
        info = DumpPipeline(cfg, self.fk_edges()).run(spark, name="dump")
        t1 = time.perf_counter()
        RestorePipeline(cfg).run(spark)
        t2 = time.perf_counter()
        return OpResult(t1 - t0, t2 - t1, info.size)

    def check(self, op_dir: str, res: OpResult) -> list[str]:
        rows = _read_inserts(os.path.join(op_dir, "restore"))
        got = {t: len(r) for t, r in rows.items()}
        want = self.truth["subset_rows"]
        problems = [] if got == want else [f"restored rows {got} != expected {want}"]
        # referential integrity of the restored text, edge by edge
        cust = {r["c_custkey"] for r in rows.get("customer", [])}
        orders = {r["o_orderkey"] for r in rows.get("orders", [])}
        orphans = (sum(r["o_custkey"] not in cust for r in rows.get("orders", []))
                   + sum(r["l_orderkey"] not in orders
                         for r in rows.get("lineitem", [])))
        if orphans:
            problems.append(f"{orphans} restored rows break an FK edge")
        problems += _check_masked_customers(rows.get("customer", []))
        # the encrypted-at-rest column reads back as its source value
        bad = sum(r["o_comment"] != inputs.order_comment(int(r["o_orderkey"]))
                  for r in rows.get("orders", []))
        if bad:
            problems.append(f"{bad} orders.o_comment values do not decrypt")
        return problems


# ---------------------------------------------------------------------------
# corpus_scrub_dedup
# ---------------------------------------------------------------------------

# 16 hashes in 8 bands of 2: a planted copy (Jaccard ~0.95) is missed with
# probability ~1e-8, so the survivor count is exact for every seed
DEDUP_PARAMS = {"threshold": 0.8, "n_hashes": 16, "bands": 8}
_RESIDUAL = re.compile(r"[0-9@]+")


class CorpusScrubDedup:
    """catalog parquet source -> scrub_pii -> minhash_near_dup_pairs ->
    keep_canonical -> parquet write.  The whole operation is one phase."""

    name = "corpus_scrub_dedup"
    phases = ()

    def __init__(self, work: str, seed: int, size: int):
        self.root, self.truth = inputs.build_corpus(work, seed, size)

    def rows_in(self) -> int:
        return self.truth["rows"]["docs"]

    def run_op(self, spark, op_dir: str) -> OpResult:
        from replibyte_spark.catalog import load_table
        from replibyte_spark.functions.pii import scrub_pii
        from replibyte_spark.operators.dedup import (keep_canonical,
                                                     minhash_near_dup_pairs)

        out = os.path.join(op_dir, "corpus")
        t0 = time.perf_counter()
        docs = load_table(spark, self.root, "docs")
        scrubbed = scrub_pii(docs, "text")
        pairs = minhash_near_dup_pairs(scrubbed, "doc_id", "text",
                                       **DEDUP_PARAMS)
        kept = keep_canonical(scrubbed, pairs, "doc_id")
        write_parquet(kept, out)
        t1 = time.perf_counter()
        return OpResult(t1 - t0, 0.0, inputs.tree_bytes(out, ".parquet"))

    def check(self, op_dir: str, res: OpResult) -> list[str]:
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(op_dir, "corpus"),
                              columns=["text"]).column("text").to_pylist()
        problems = []
        residual = sum(len(_RESIDUAL.findall(t)) for t in texts)
        res.info["residual_matches"] = residual
        if residual:
            problems.append(f"{residual} PII matches left after scrub")
        if len(texts) != self.truth["survivors"]:
            problems.append(f"{len(texts)} survivors != planted "
                            f"{self.truth['survivors']}")
        return problems


def write_parquet(df, path: str) -> None:
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)


WORKLOADS = {w.name: w for w in (Lifecycle, CorpusScrubDedup)}
