"""Property-based tests (hypothesis) — beyond the reference's example-based
suite (SURVEY.md §5): the SQL-text round-trip and transformer invariants must
hold for arbitrary adversarial strings, not just fixtures."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from replibyte_spark.sources.sqldump import _decode_value, parse_insert, split_statements

# printable-ish text incl. quotes, semicolons, newlines, unicode
adversarial = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
    max_size=80,
)


def _encode_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


@given(adversarial, st.integers(-(2**62), 2**62), st.booleans())
@settings(max_examples=200, deadline=None)
def test_insert_roundtrip_arbitrary_strings(s, n, b):
    """encode → split → parse returns the exact original values (reference
    to_query/parse pair, source/postgres.rs:499-546 + 375-412)."""
    stmt = (f"INSERT INTO t (a, b, c, d) VALUES "
            f"({_encode_value(s)}, {_encode_value(n)}, {_encode_value(b)}, NULL);")
    stmts = list(split_statements(stmt))
    assert len(stmts) == 1
    parsed = parse_insert(stmts[0])
    assert parsed is not None
    _t, cols, vals = parsed
    assert vals[0] == s, f"string mangled: {s!r} -> {vals[0]!r}"
    assert vals[1] == n
    assert vals[2] is b
    assert vals[3] is None


@given(st.lists(adversarial, min_size=1, max_size=5))
@settings(max_examples=100, deadline=None)
def test_splitter_statement_count(texts):
    """N well-formed statements in, exactly N statements out, regardless of
    embedded `;`, quotes or newlines in the literals."""
    src = "".join(
        f"INSERT INTO t (a) VALUES ({_encode_value(s)});" for s in texts)
    assert len(list(split_statements(src))) == len(texts)


@given(st.text(max_size=30))
@settings(max_examples=100, deadline=None)
def test_decode_value_never_raises_on_quoted(s):
    tok = "'" + s.replace("'", "''") + "'"
    assert _decode_value(tok) == s


# --- streaming archive writer --------------------------------------------

_doc_values = st.recursive(
    st.one_of(st.integers(-(2**31), 2**31 - 1), st.text(max_size=20),
              st.floats(allow_nan=False, allow_infinity=False),
              st.booleans(), st.none()),
    lambda inner: st.dictionaries(
        st.text(min_size=1, max_size=8).filter(lambda s: "\x00" not in s),
        inner, max_size=3),
    max_leaves=6)

_collections = st.dictionaries(
    st.text(st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1, max_size=8),
    st.lists(st.dictionaries(
        st.text(min_size=1, max_size=6).filter(lambda s: "\x00" not in s),
        _doc_values, max_size=4), max_size=6),
    min_size=1, max_size=3)


@given(_collections)
@settings(max_examples=50, deadline=None)
def test_archive_stream_writer_matches_in_memory_builder(colls):
    """write_archive_stream (iterator in, incremental CRC) is byte-for-byte
    build_archive_raw for ARBITRARY BSON-encodable document sets, and the
    result parses back with verified CRCs."""
    import os
    import tempfile

    from replibyte_spark.sources.mongo_archive import (
        build_archive_raw, encode_document, parse_archive,
        write_archive_stream)

    raw = {c: [encode_document(d) for d in docs] for c, docs in colls.items()}
    ref = build_archive_raw(raw, db="propdb")
    fd, path = tempfile.mkstemp()
    os.close(fd)
    try:
        n = write_archive_stream(path, {c: iter(b) for c, b in raw.items()},
                                 db="propdb")
        with open(path, "rb") as fh:
            got = fh.read()
    finally:
        os.unlink(path)
    assert n == sum(len(b) for b in raw.values())
    assert got == ref
    parsed = parse_archive(got)  # raises on any CRC mismatch
    assert sum(len(v) for v in parsed.collections().values()) == n


# ---------------------------------------------------------------------------
# round-5 fix areas under hypothesis (the three bug classes below were all
# found by review, not by the example-based tests — lock them with
# generated inputs): asof exact-µs tolerance edges, incremental chains
# with random full/delta interleavings, retention over random chain shapes
# ---------------------------------------------------------------------------


@given(
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b", None]),
                  st.integers(0, 12)),
        min_size=1, max_size=6),
    right=st.lists(
        st.tuples(st.sampled_from(["a", "b", None]),
                  st.integers(0, 12)),
        min_size=1, max_size=6, unique=True),
    tol_us=st.one_of(st.none(), st.integers(0, 8)),
)
@settings(max_examples=12, deadline=None)
def test_asof_tolerance_microsecond_edges(spark, left, right, tol_us):
    """asof_join vs a direct Python model on microsecond-offset
    timestamps, with tolerances drawn AT the boundary scale: exact
    tol == diff edges must match inclusively, NULL keys never match, and
    the tolerance conversion mirrors the operator's own int(sec * 1e6)."""
    from datetime import datetime, timedelta

    from replibyte_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    lrows = [(k, base + timedelta(microseconds=us), i)
             for i, (k, us) in enumerate(left)]
    rrows = [(k, base + timedelta(microseconds=us), f"p{j}")
             for j, (k, us) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "k string, ts timestamp, lid long")
    rdf = spark.createDataFrame(rrows, "k string, ts timestamp, pay string")
    tol_sec = None if tol_us is None else tol_us / 1_000_000
    out = asof_join(ldf, rdf, on="k", tolerance_seconds=tol_sec)
    got = {r.lid: (r.ts_matched, r.pay_matched) for r in out.collect()}

    lim = None if tol_sec is None else int(tol_sec * 1_000_000)
    for i, (k, us) in enumerate(left):
        lt = base + timedelta(microseconds=us)
        cands = [(rt, p) for (rk, rt, p) in rrows
                 if k is not None and rk == k and rt <= lt]
        want = (None, None)
        if cands:
            rt, p = max(cands)          # unique (k, ts) rights: max ts wins
            diff_us = round((lt - rt).total_seconds() * 1_000_000)
            if lim is None or diff_us <= lim:
                want = (rt, p)
        assert got[i] == want, (
            f"lid={i} k={k!r} us={us} tol_us={tol_us}: {got[i]} != {want}")


@given(steps=st.lists(st.tuples(st.integers(0, 3), st.booleans()),
                      min_size=1, max_size=4))
@settings(max_examples=8, deadline=None)
def test_incremental_chain_restore_random_interleavings(spark, steps):
    """Random full/delta interleavings over an insert-only table: after
    every step, restore('latest') must equal the current table exactly —
    no duplicated rows (the r5 full-redump-shadowing fix), no lost rows
    (empty deltas inherit the base watermark), across arbitrary chain
    shapes."""
    import shutil
    import tempfile

    from replibyte_spark.sinks.datastore import Datastore

    root = tempfile.mkdtemp(prefix="rs_prop_chain_")
    try:
        store = Datastore(spark, root)
        rows = [(1, 1), (2, 2)]
        next_id = 3

        def df():
            return spark.createDataFrame(rows, "id long, wm long")

        store.dump({"t": df()}, "d0", watermark_cols={"t": "wm"})
        for si, (n_new, full) in enumerate(steps):
            for _ in range(n_new):
                rows.append((next_id, next_id))
                next_id += 1
            name = f"d{si + 1}"
            if full:
                store.dump({"t": df()}, name, watermark_cols={"t": "wm"})
            else:
                store.dump_incremental({"t": df()}, name,
                                       watermark_cols={"t": "wm"})
            back = sorted(map(tuple,
                              store.restore("latest")["t"].collect()))
            assert back == sorted(rows), (
                f"step {si} ({'full' if full else 'delta'}, +{n_new}): "
                f"{len(back)} rows vs {len(rows)}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(
    n=st.integers(1, 8),
    parent_seed=st.integers(0, 2**30),
    keep_last=st.integers(0, 8),
)
@settings(max_examples=25, deadline=None)
def test_retention_preserves_chains_random_shapes(spark, n, parent_seed,
                                                  keep_last):
    """retain(keep_last=k) over a RANDOM parent forest: (1) the newest k
    dumps always survive, (2) every survivor's full ancestor chain
    survives (the r5 chain-aware fix), (3) nothing outside the doomed
    candidate set is deleted."""
    import random
    import shutil
    import tempfile
    import time as _time

    from replibyte_spark.sinks.datastore import Datastore

    rng = random.Random(parent_seed)
    root = tempfile.mkdtemp(prefix="rs_prop_retain_")
    try:
        store = Datastore(spark, root)
        store.init()
        now = _time.time()
        dumps = []
        for i in range(n):
            parent = (f"d{rng.randrange(i)}"
                      if i and rng.random() < 0.6 else None)
            dumps.append({
                "directory_name": f"d{i}", "size": 1,
                "created_at": now - (n - i) * 60,
                "compressed": True, "encrypted": False, "tables": ["t"],
                "encrypted_column_types": {}, "parent": parent,
                "watermarks": {}, "full_tables": ["t"],
            })
        m = store._read_manifest()
        m["dumps"] = dumps
        store._write_manifest(m)
        parents = {d["directory_name"]: d["parent"] for d in dumps}

        deleted = store.retain(keep_last=keep_last)
        left = {d.directory_name for d in store.list_dumps()}
        assert left.isdisjoint(deleted)
        newest = {f"d{i}" for i in range(max(0, n - keep_last), n)}
        assert newest <= left                       # (1)
        for name in left:                           # (2)
            p = parents[name]
            while p is not None:
                assert p in left, f"{name}'s ancestor {p} was deleted"
                p = parents[p]
        candidates = {f"d{i}" for i in range(max(0, n - keep_last))}
        assert set(deleted) <= candidates           # (3)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(
    n_tables=st.integers(2, 3),
    rows_per_table=st.integers(3, 8),
    edge_seed=st.integers(0, 2**30),
    seed_rows=st.integers(1, 3),
    include_children=st.booleans(),
)
@settings(max_examples=8, deadline=None)
def test_subset_closure_matches_python_model_on_random_graphs(
        spark, n_tables, rows_per_table, edge_seed, seed_rows,
        include_children):
    """subset_closure (DAG fast path OR the r6 cyclic fixpoint with
    frontier skipping — whichever the generated graph selects) vs a naive
    Python reachability fixpoint, on random FK graphs including self-loops
    and mutual cycles.  A wrong edge-skip or a premature fixpoint would
    show up as a missing row."""
    import random

    from replibyte_spark.operators.subset import FkEdge, subset_closure

    rng = random.Random(edge_seed)
    # table i: rows (id, fk_to_0, fk_to_1, ...) — one fk column per
    # potential parent, each a deterministic function of the row id
    names = [f"t{i}" for i in range(n_tables)]
    edges, fk_fn = [], {}
    for ci, c in enumerate(names):
        for pi, p in enumerate(names):
            if rng.random() < 0.5:
                a, b = rng.randrange(1, 4), rng.randrange(0, 3)
                edges.append(FkEdge(c, f"fk{pi}", p, "id"))
                fk_fn[(ci, pi)] = (a, b)
    if not edges:
        edges.append(FkEdge(names[0], "fk0", names[0], "id"))
        fk_fn[(0, 0)] = (1, 1)

    def fk_val(ci, pi, rid):
        if (ci, pi) not in fk_fn:
            return None
        a, b = fk_fn[(ci, pi)]
        return (rid * a + b) % rows_per_table

    data = {}
    for ci, c in enumerate(names):
        rows = [tuple([rid] + [fk_val(ci, pi, rid)
                               for pi in range(n_tables)])
                for rid in range(rows_per_table)]
        cols = ", ".join(["id long"] + [f"fk{pi} long"
                                        for pi in range(n_tables)])
        data[c] = spark.createDataFrame(rows, cols)

    seed_ids = set(range(min(seed_rows, rows_per_table)))
    seed_df = data[names[0]].filter(
        data[names[0]]["id"].isin([int(x) for x in seed_ids]))

    res = subset_closure(data, edges, names[0], seed_df,
                         include_children=include_children,
                         max_iterations=60)
    got = {t: {r.id for r in df.select("id").collect()}
           for t, df in res.tables.items()}

    # Python model of the documented semantics: kept grows by FK targets
    # of kept rows; with include_children, children of EXPAND rows join
    # both kept and expand (RI-pulled parents never re-expand children)
    pidx = {c: i for i, c in enumerate(names)}
    kept = {names[0]: set(seed_ids)}
    expand = {names[0]: set(seed_ids)}
    changed = True
    while changed:
        changed = False
        for e in edges:
            if e.child not in kept:
                continue
            ci, pi = pidx[e.child], pidx[e.parent]
            want = {fk_val(ci, pi, rid) for rid in kept[e.child]}
            add = {rid for rid in range(rows_per_table) if rid in want}
            before = len(kept.get(e.parent, set()))
            kept.setdefault(e.parent, set()).update(add)
            changed |= len(kept[e.parent]) != before
        if include_children:
            for e in edges:
                if e.parent not in expand:
                    continue
                ci, pi = pidx[e.child], pidx[e.parent]
                add = {rid for rid in range(rows_per_table)
                       if fk_val(ci, pi, rid) in expand[e.parent]}
                bk = len(kept.get(e.child, set()))
                be = len(expand.get(e.child, set()))
                kept.setdefault(e.child, set()).update(add)
                expand.setdefault(e.child, set()).update(add)
                changed |= (len(kept[e.child]) != bk
                            or len(expand[e.child]) != be)
    want_sets = {t: s for t, s in kept.items() if s}
    assert got == want_sets, (
        f"edges={edges} fk={fk_fn} children={include_children}: "
        f"{got} != {want_sets}")


@given(
    seed=st.integers(0, 2**30),
    budget_lo=st.integers(20, 60),
    budget_hi_extra=st.integers(1, 200),
)
@settings(max_examples=6, deadline=None)
def test_token_budget_mix_monotone_in_budget(spark, seed, budget_lo,
                                             budget_hi_extra):
    """Raising the budget only raises per-stratum thresholds, so the kept
    set must GROW monotonically (hash draws are fixed per row): a resumed
    curation run with a bigger budget strictly extends, never reshuffles,
    the previous sample."""
    import random

    from replibyte_spark.operators.sample import token_budget_mix

    rng = random.Random(seed)
    words = ["aa", "bb", "cc", "dd"]
    rows = [(i, rng.choice(["en", "de", "zh", "fr"]),
             " ".join(rng.choices(words, k=rng.randrange(1, 9))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    weights = {"en": 3.0, "de": 1.0}
    lo = {r.doc_id for r in token_budget_mix(
        df, weights, budget_lo, stratum_col="lang").collect()}
    hi = {r.doc_id for r in token_budget_mix(
        df, weights, budget_lo + budget_hi_extra,
        stratum_col="lang").collect()}
    assert lo <= hi, f"budget increase dropped docs: {lo - hi}"
    langs = {r.doc_id: r.lang for r in df.collect()}
    assert all(langs[i] in weights for i in hi)   # unlisted strata dropped


@given(seed=st.integers(0, 2**30))
@settings(max_examples=5, deadline=None)
def test_minhash_index_path_equals_from_scratch(spark, tmp_path_factory,
                                                seed):
    """The materialized-index admit path must return EXACTLY the pairs a
    from-scratch computation over (corpus + batch) signatures yields:
    same candidates (any shared band), same signature-agreement values —
    on random corpora with planted copies and shuffled word salads."""
    import random

    from replibyte_spark.operators.dedup import (
        build_minhash_index,
        lsh_band_keys,
        minhash_index_flagged_pairs,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    corpus_rows = [(i, " ".join(rng.choices(vocab, k=rng.randrange(4, 12))))
                   for i in range(15)]
    batch_rows = []
    for j in range(8):
        if j % 3 == 0 and corpus_rows:
            batch_rows.append((100 + j, rng.choice(corpus_rows)[1]))  # copy
        else:
            batch_rows.append(
                (100 + j, " ".join(rng.choices(vocab,
                                               k=rng.randrange(4, 12)))))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("mhidx"))
    build_minhash_index(corpus, path, n_hashes=12, bands=4, n=2)
    got = {(r.id_new, r.id_corpus): r.agreement
           for r in minhash_index_flagged_pairs(batch, path,
                                                threshold=0.5).collect()}

    # from scratch: signatures of both sides, band join, agreement
    cs = minhash_signatures(corpus, "doc_id", "text", 12, 2)
    ns = minhash_signatures(batch, "doc_id", "text", 12, 2)
    cb = lsh_band_keys(cs, "doc_id", 4, 3).select(
        F.col("doc_id").alias("id_corpus"), "band", "band_key")
    nb = lsh_band_keys(ns, "doc_id", 4, 3).select(
        F.col("doc_id").alias("id_new"), "band", "band_key")
    cand = nb.join(cb, ["band", "band_key"]) \
        .select("id_new", "id_corpus").distinct()
    a = ns.select(F.col("doc_id").alias("id_new"),
                  *[F.col(f"h{i}").alias(f"a{i}") for i in range(12)])
    b = cs.select(F.col("doc_id").alias("id_corpus"),
                  *[F.col(f"h{i}").alias(f"b{i}") for i in range(12)])
    agree = sum(F.expr(f"CAST(a{i} = b{i} AS INT)") for i in range(12))
    want = {(r.id_new, r.id_corpus): r.agreement
            for r in cand.join(a, "id_new").join(b, "id_corpus")
            .withColumn("agreement", F.round(agree / F.lit(12.0), 6))
            .filter(F.col("agreement") >= 0.5).collect()}
    assert got == want


@given(seed=st.integers(0, 2**30), chunk=st.integers(2, 10),
       overlap=st.integers(0, 8))
@settings(max_examples=6, deadline=None)
def test_chunk_documents_matches_python_model(spark, seed, chunk, overlap):
    """chunk_documents vs the direct Python restatement: same windows,
    same offsets, for random docs and random (chunk, overlap) settings."""
    import random

    from hypothesis import assume

    from replibyte_spark.operators.grouped import chunk_documents

    assume(overlap < chunk)
    rng = random.Random(seed)
    rows = [(i, " ".join(f"t{rng.randrange(5)}"
                         for _ in range(rng.randrange(0, 25))))
            for i in range(8)] + [(8, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.chunk_idx, r.tok_start, r.n_tokens,
                  r.chunk_text)
                 for r in chunk_documents(df, chunk_tokens=chunk,
                                          overlap=overlap).collect())
    stride = chunk - overlap
    want = []
    for i, text in rows:
        toks = text.split() if text else []
        if not toks:
            continue
        # starts stop at max(1, n - overlap): later windows end exactly
        # where their predecessor did and would add no new token
        for idx, s in enumerate(
                range(0, max(1, len(toks) - overlap), stride)):
            w = toks[s:s + chunk]
            want.append((i, idx, s + 1, len(w), " ".join(w)))
    assert got == sorted(want)
    # every chunk after a doc's first extends coverage: its end index
    # (tok_start + n_tokens) strictly exceeds the previous chunk's
    by_doc: dict = {}
    for doc, idx, s, n, _ in got:
        by_doc.setdefault(doc, []).append((idx, s + n))
    for ends in by_doc.values():
        ends.sort()
        for (_, a), (_, b) in zip(ends, ends[1:]):
            assert b > a
