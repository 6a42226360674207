"""CLI tests — the reference's clap command tree (cli.rs:9-131) over the
Spark engine via `python -m replibyte_spark`.  Each command is driven
through `cli.main(argv, spark=...)` so the suite reuses the session."""

from __future__ import annotations

import os

import pytest

from replibyte_spark.cli import main


@pytest.fixture()
def conf(tmp_path, sf_dir):
    path = tmp_path / "conf.yaml"
    path.write_text(f"""
source:
  connection_uri: parquet://{sf_dir}
  only_tables:
    - table: region
    - table: nation
  transformers:
    - table: nation
      columns:
        - name: n_name
          transformer_name: redacted
datastore:
  dir: {tmp_path}/store
destination:
  connection_uri: parquet://{tmp_path}/out
  wipe_database: true
""")
    return str(path)


def test_cli_dump_lifecycle(spark, conf, tmp_path, capsys):
    assert main(["-c", conf, "dump", "create", "-n", "d1"], spark=spark) == 0
    assert "dump d1 created" in capsys.readouterr().out

    assert main(["-c", conf, "dump", "list"], spark=spark) == 0
    assert "d1" in capsys.readouterr().out

    assert main(["-c", conf, "dump", "restore", "remote", "-v", "d1"],
                spark=spark) == 0
    assert "restored 2 tables" in capsys.readouterr().out
    out = spark.read.parquet(str(tmp_path / "out" / "region"))
    assert out.count() == 5

    # transformer applied at dump time: restored names are redacted
    nat = spark.read.parquet(str(tmp_path / "out" / "nation"))
    assert all(len(r.n_name) <= 3 or r.n_name.endswith("***")
               for r in nat.collect())

    assert main(["-c", conf, "dump", "delete", "d1"], spark=spark) == 0
    assert "deleted d1" in capsys.readouterr().out
    assert main(["-c", conf, "dump", "list"], spark=spark) == 0
    assert "d1" not in capsys.readouterr().out


def test_cli_restore_output_streams_inserts(spark, conf, capsys):
    assert main(["-c", conf, "dump", "create", "-n", "d2"], spark=spark) == 0
    capsys.readouterr()
    assert main(["-c", conf, "dump", "restore", "remote", "-v", "d2", "-o"],
                spark=spark) == 0
    out = capsys.readouterr().out
    assert out.count("INSERT INTO region") == 5
    assert out.count("INSERT INTO nation") == 25

    # the console:// destination is the same sink: every row, SQL only
    from replibyte_spark.config import Config
    from replibyte_spark.plans.pipeline import RestorePipeline

    cfg = Config.from_file(conf)
    cfg.destination.connection_uri = "console://"
    RestorePipeline(cfg).run(spark, "d2")
    out = capsys.readouterr().out
    assert out.count("INSERT INTO nation") == 25
    assert all(line.startswith("INSERT INTO ") for line in out.splitlines())


def test_cli_dump_create_from_sql_file(spark, tmp_path, capsys):
    dump_file = tmp_path / "mini.sql"
    dump_file.write_text(
        "INSERT INTO pets (id, name) VALUES (1, 'rex');\n"
        "INSERT INTO pets (id, name) VALUES (2, 'o''malley');\n")
    conf = tmp_path / "c.yaml"
    conf.write_text(f"""
datastore:
  dir: {tmp_path}/store2
destination:
  connection_uri: console://
""")
    assert main(["-c", str(conf), "dump", "create", "-f", str(dump_file),
                 "-s", "postgresql", "-n", "filed"], spark=spark) == 0
    assert "dump filed created (1 tables" in capsys.readouterr().out
    assert main(["-c", str(conf), "dump", "restore", "remote",
                 "-v", "filed", "-o"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "o''malley" in out and out.count("INSERT INTO pets") == 2


def test_cli_delete_modes_and_errors(spark, conf, capsys):
    for n in ("a", "b", "c"):
        assert main(["-c", conf, "dump", "create", "-n", n], spark=spark) == 0
    capsys.readouterr()
    # exactly-one-mode validation
    assert main(["-c", conf, "dump", "delete"], spark=spark) == 2
    assert main(["-c", conf, "dump", "delete", "a", "--keep-last", "1"],
                spark=spark) == 2
    assert main(["-c", conf, "dump", "delete", "--older-than", "14days"],
                spark=spark) == 2
    capsys.readouterr()
    assert main(["-c", conf, "dump", "delete", "--keep-last", "1"],
                spark=spark) == 0
    assert "deleted 2 dumps: a, b" in capsys.readouterr().out
    assert main(["-c", conf, "dump", "delete", "--older-than", "14d"],
                spark=spark) == 0
    assert "deleted 0 dumps" in capsys.readouterr().out


def test_cli_transformer_list_and_source_schema(spark, conf, capsys):
    assert main(["-c", conf, "transformer", "list"], spark=spark) == 0
    out = capsys.readouterr().out
    for t in ("email", "credit-card", "custom-wasm", "redacted"):
        assert t in out
    assert main(["-c", conf, "source", "schema"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "n_nationkey" in out and "r_regionkey" in out
    assert "c_custkey" not in out        # only_tables pruned the listing


def test_cli_restore_local_spawns_container(spark, conf, capsys,
                                            monkeypatch):
    """`dump restore local` (K4, r13 — was an unsupported error before):
    the full container plan through the CLI, asserted via a primed
    dry-run runner; and without a reachable daemon it exits 2 with
    guidance instead of a silent no-op."""
    from replibyte_spark.sinks import docker_dest as DK

    assert main(["-c", conf, "dump", "create", "-n", "dl1"],
                spark=spark) == 0
    capsys.readouterr()

    primed = DK.DockerRunner(dry_run=True)
    primed.script = [
        (0, b"feedfacefeedfacefeedface\n", b""),  # docker run
        (0, b"", b""),                             # pg_isready
        (0, b"", b""),                             # psql pipe
    ]
    monkeypatch.setattr(DK, "DockerRunner", lambda *a, **k: primed)
    assert main(["-c", conf, "dump", "restore", "local", "-v", "dl1",
                 "-p", "5444"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "feedfacefeed" in out and "localhost:5444" in out
    run = primed.calls[0]
    assert run.argv[:3] == ["run", "-p", "5444:5432"]
    pipe = primed.calls[-1]
    assert "psql" in pipe.argv[5]
    sql = pipe.stdin.decode()
    # the dump's redacted transformer applied BEFORE the container pipe
    assert "CREATE TABLE nation" in sql and "CREATE TABLE region" in sql
    monkeypatch.undo()

    if not DK.DockerRunner().available():
        assert main(["-c", conf, "dump", "restore", "local", "-v", "dl1"],
                    spark=spark) == 2
        assert "docker" in capsys.readouterr().err


def test_cli_stdin_requires_source_type(spark, conf, capsys):
    assert main(["-c", conf, "dump", "create", "-i"], spark=spark) == 2
    assert "requires -s" in capsys.readouterr().err


def test_module_entrypoint_exists():
    import replibyte_spark.__main__  # noqa: F401  (import must not run main)


def test_cli_stdin_dump_removes_temp_copy(spark, tmp_path, capsys,
                                          monkeypatch):
    """`dump create -i` stages stdin in a temp file (a PRE-transformation
    copy of the dump, PII included) — it must be deleted once the dump
    completes, not leaked into the temp directory."""
    import io
    import sys as _sys

    conf = tmp_path / "c.yaml"
    conf.write_text(f"""
datastore:
  dir: {tmp_path}/store3
destination:
  connection_uri: console://
""")
    created: list[str] = []
    import tempfile as _tempfile

    real_ntf = _tempfile.NamedTemporaryFile

    def spy_ntf(*a, **kw):
        f = real_ntf(*a, **kw)
        created.append(f.name)
        return f

    monkeypatch.setattr(_tempfile, "NamedTemporaryFile", spy_ntf)
    sql = ("INSERT INTO pets (id, name) VALUES (1, 'rex');\n"
           "INSERT INTO pets (id, name) VALUES (2, 'ivy');\n")
    monkeypatch.setattr(
        _sys, "stdin",
        type("S", (), {"buffer": io.BytesIO(sql.encode())})())
    assert main(["-c", str(conf), "dump", "create", "-i",
                 "-s", "postgresql", "-n", "stdind"], spark=spark) == 0
    assert "dump stdind created (1 tables" in capsys.readouterr().out
    staged = [p for p in created if p.endswith(".sql")]
    assert staged, "stdin should have been staged through a temp file"
    assert not any(os.path.exists(p) for p in staged), \
        "stdin temp copy leaked after dump completed"


def test_cli_corpus_subcommands(spark, tmp_path, capsys, sf_dir):
    """`corpus report/scrub/dedup` drive the curation operators over plain
    parquet with no config file."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today", "a"),
         (2, "the quick brown fox jumps over the lazy dog today", "a"),
         (3, "mail me at jo@example.com about the big meeting soon", "b")],
        "doc_id long, text string, source string").write.parquet(src)

    assert main(["corpus", "report", "-i", src], spark=spark) == 0
    out = capsys.readouterr().out
    assert "n_docs" in out and "p50_tokens" in out

    clean = str(tmp_path / "clean.parquet")
    assert main(["corpus", "scrub", "-i", src, "-o", clean],
                spark=spark) == 0
    assert "scrubbed text" in capsys.readouterr().out
    texts = {r.doc_id: r.text
             for r in spark.read.parquet(clean).collect()}
    assert "<EMAIL>" in texts[3] and "jo@example.com" not in texts[3]

    kept = str(tmp_path / "kept.parquet")
    assert main(["corpus", "dedup", "-i", src, "-o", kept],
                spark=spark) == 0
    assert "near-dups removed" in capsys.readouterr().out
    assert {r.doc_id for r in spark.read.parquet(kept).collect()} == {1, 3}

    # bad column fails loudly
    assert main(["corpus", "scrub", "-i", src, "-o", clean,
                 "--columns", "nope"], spark=spark) == 2

    # reference-tree commands still demand a config
    assert main(["dump", "list"], spark=spark) == 2
    assert "config is required" in capsys.readouterr().err


def test_cli_corpus_index_admit(spark, tmp_path, capsys):
    """`corpus index` + `corpus admit`: incremental ingest from the shell —
    a batch doc duplicating the indexed corpus is dropped, novel docs are
    admitted."""
    corp = str(tmp_path / "corp.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string").write.parquet(corp)
    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (11, "totally new words that never appeared in the corpus")],
        "doc_id long, text string").write.parquet(batch)

    idx = str(tmp_path / "idx")
    assert main(["corpus", "index", "-i", corp, "-o", idx],
                spark=spark) == 0
    assert "indexed 2 docs" in capsys.readouterr().out

    kept = str(tmp_path / "admitted.parquet")
    assert main(["corpus", "admit", "-i", batch, "--index", idx,
                 "-o", kept], spark=spark) == 0
    assert "admitted 1/2" in capsys.readouterr().out
    assert {r.doc_id for r in spark.read.parquet(kept).collect()} == {11}


def test_cli_corpus_score(spark, tmp_path, capsys):
    """`corpus score` trains a unigram LM (on --train or the input
    itself) and writes perplexity scores."""
    docs = str(tmp_path / "d.parquet")
    spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zxqv wkjh qqpl mnbv")],
        "doc_id long, text string").write.parquet(docs)
    train = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog too") for i in range(10)],
        "doc_id long, text string").write.parquet(train)
    out = str(tmp_path / "scored.parquet")
    assert main(["corpus", "score", "-i", docs, "--train", train,
                 "-o", out], spark=spark) == 0
    assert "scored 2 docs" in capsys.readouterr().out
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].perplexity < rows[2].perplexity


def test_cli_corpus_chunk(spark, tmp_path, capsys):
    src = str(tmp_path / "cd.parquet")
    spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "chunks.parquet")
    assert main(["corpus", "chunk", "-i", src, "-o", out,
                 "--chunk-tokens", "8", "--overlap", "3"],
                spark=spark) == 0
    assert "chunked ->" in capsys.readouterr().out
    rows = spark.read.parquet(out).orderBy("chunk_idx").collect()
    assert [r.tok_start for r in rows] == [1, 6, 11, 16]
    assert rows[0].chunk_text.startswith("w0 w1")


def test_cli_corpus_lid(spark, tmp_path, capsys):
    """`corpus lid` labels each doc with the computed language."""
    src = str(tmp_path / "lid.parquet")
    spark.createDataFrame(
        [(1, "the cat and the dog are playing in the garden of the house"),
         (2, "der hund und die katze spielen in einem schönen garten"),
         (3, "")],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "lid_out.parquet")
    assert main(["corpus", "lid", "-i", src, "-o", out], spark=spark) == 0
    got = capsys.readouterr().out
    assert "labeled ->" in got and "de=1" in got and "en=1" in got \
        and "und=1" in got
    rows = {r.doc_id: r.pred_lang
            for r in spark.read.parquet(out).collect()}
    assert rows == {1: "en", 2: "de", 3: "und"}
    # missing column follows the error convention
    assert main(["corpus", "lid", "-i", src, "-o", out,
                 "--text-col", "nope"], spark=spark) == 2
    assert "error:" in capsys.readouterr().err


def test_cli_corpus_index_auto_params(spark, tmp_path, capsys):
    """`corpus index --threshold` picks (n_hashes, bands) from the
    banding S-curve; the admit path then reads those params back from the
    meta sidecar, so the whole loop runs on the picked configuration."""
    corp = str(tmp_path / "apc.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string").write.parquet(corp)
    idx = str(tmp_path / "ap_idx")
    assert main(["corpus", "index", "-i", corp, "-o", idx,
                 "--threshold", "0.8"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "picked n_hashes=" in out and "indexed 2 docs" in out
    from replibyte_spark.operators.dedup import (flagged_recall,
                                                 load_minhash_index_meta)
    meta = load_minhash_index_meta(spark, idx)
    # end-to-end contract (candidate ∧ agreement-verify), evaluated where
    # the picker promises it: jaccard (1+t)/2 with verify at t — and the
    # degenerate small-n configs the r8 advisor flagged stay excluded
    assert flagged_recall(0.9, meta["n_hashes"], meta["bands"], 0.8) >= 0.9
    assert meta["n_hashes"] // meta["bands"] >= 2
    batch = str(tmp_path / "ap_batch.parquet")
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string").write.parquet(batch)
    outp = str(tmp_path / "ap_adm.parquet")
    assert main(["corpus", "admit", "-i", batch, "--index", idx,
                 "-o", outp], spark=spark) == 0
    assert "admitted 0/1" in capsys.readouterr().out


def test_cli_corpus_eindex_eadmit(spark, tmp_path, capsys):
    """`corpus eindex` + `corpus eadmit`: semantic incremental ingest
    from the shell — an exact embedding copy of an indexed vector is
    dropped, a dissimilar vector is admitted."""
    corp = str(tmp_path / "evecs.parquet")
    spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0]), (2, [0.0, 1.0, 0.0, 0.4])],
        "vec_id long, embedding array<double>").write.parquet(corp)
    idx = str(tmp_path / "eidx")
    assert main(["corpus", "eindex", "-i", corp, "-o", idx,
                 "--bits", "6", "--dim", "4"], spark=spark) == 0
    assert "indexed 2 vectors" in capsys.readouterr().out
    batch = str(tmp_path / "ebatch.parquet")
    spark.createDataFrame(
        [(10, [1.0, 0.2, 0.1, 0.0]),          # copy of 1
         (11, [-0.5, 0.1, -1.0, 0.2])],       # far from both
        "vec_id long, embedding array<double>").write.parquet(batch)
    out = str(tmp_path / "eadmitted.parquet")
    assert main(["corpus", "eadmit", "-i", batch, "--index", idx,
                 "-o", out], spark=spark) == 0
    assert "admitted 1/2" in capsys.readouterr().out
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {11}


def test_cli_corpus_admit_missing_index_exits_2(spark, tmp_path, capsys):
    """Admitting against a nonexistent index is a clean contract error
    (`error: ...`, exit 2), not a raw AnalysisException traceback."""
    batch = str(tmp_path / "mi_batch.parquet")
    spark.createDataFrame([(1, "some text")], "doc_id long, text string") \
        .write.parquet(batch)
    out = str(tmp_path / "mi_out.parquet")
    rc = main(["corpus", "admit", "-i", batch,
               "--index", str(tmp_path / "nope_idx"), "-o", out],
              spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert err.startswith("error:") and "no MinHash index" in err
    vecs = str(tmp_path / "mi_vecs.parquet")
    spark.createDataFrame([(1, [1.0, 0.0])],
                          "vec_id long, embedding array<double>") \
        .write.parquet(vecs)
    rc = main(["corpus", "eadmit", "-i", vecs,
               "--index", str(tmp_path / "nope_eidx"), "-o", out],
              spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert err.startswith("error:") and "no ANN index" in err


def test_cli_corpus_admit_update_index(spark, tmp_path, capsys):
    """`corpus admit --update-index` appends the admitted docs; the SAME
    batch re-presented afterwards admits nothing."""
    corp = str(tmp_path / "ui_corp.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string").write.parquet(corp)
    idx = str(tmp_path / "ui_idx")
    assert main(["corpus", "index", "-i", corp, "-o", idx],
                spark=spark) == 0
    batch = str(tmp_path / "ui_batch.parquet")
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "entirely novel words that never appeared anywhere")],
        "doc_id long, text string").write.parquet(batch)
    out1 = str(tmp_path / "ui_out1.parquet")
    assert main(["corpus", "admit", "-i", batch, "--index", idx,
                 "-o", out1, "--update-index"], spark=spark) == 0
    got = capsys.readouterr().out
    assert "admitted 1/2" in got and "index extended with 1 docs" in got
    out2 = str(tmp_path / "ui_out2.parquet")
    assert main(["corpus", "admit", "-i", batch, "--index", idx,
                 "-o", out2], spark=spark) == 0
    assert "admitted 0/2" in capsys.readouterr().out


def test_cli_corpus_compact(spark, tmp_path, capsys):
    """`corpus compact` auto-detects the index kind and consolidates."""
    corp = str(tmp_path / "cc_corp.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string").write.parquet(corp)
    idx = str(tmp_path / "cc_idx")
    assert main(["corpus", "index", "-i", corp, "-o", idx],
                spark=spark) == 0
    capsys.readouterr()
    from replibyte_spark.operators.dedup import append_minhash_index
    for i in range(2):
        append_minhash_index(spark.createDataFrame(
            [(100 + i, f"batch {i} words unlike anything else {i}")],
            "doc_id long, text string"), idx)
    assert main(["corpus", "compact", "--index", idx], spark=spark) == 0
    out = capsys.readouterr().out
    assert "compacted signatures:" in out and "files" in out
    assert main(["corpus", "compact",
                 "--index", str(tmp_path / "cc_nope")], spark=spark) == 2
    assert "error:" in capsys.readouterr().err
    # ANN layout: compaction also surfaces centroid drift (r9)
    vecs = str(tmp_path / "cc_vecs.parquet")
    spark.createDataFrame(
        [(1, [1.0, 0.1, 0.0, 0.2]), (2, [0.0, 1.0, 0.2, 0.0])],
        "vec_id long, embedding array<double>").write.parquet(vecs)
    eidx = str(tmp_path / "cc_eidx")
    assert main(["corpus", "eindex", "-i", vecs, "-o", eidx,
                 "--bits", "4"], spark=spark) == 0
    capsys.readouterr()
    assert main(["corpus", "compact", "--index", eidx], spark=spark) == 0
    out = capsys.readouterr().out
    assert "compacted corpus:" in out
    assert "centroid drift: mean assignment cosine" in out


def test_cli_corpus_score_persist_lifecycle(spark, tmp_path, capsys,
                                            empty_registry):
    """N successive `corpus score` calls leave the persistent-RDD
    registry flat: both scorers persist the LM frame, and the released()
    scope cli.main runs each command in frees it when the command
    returns."""
    train = str(tmp_path / "lc_train.parquet")
    docs = str(tmp_path / "lc_docs.parquet")
    spark.createDataFrame(
        [(i, "common words repeated for the model " * 3) for i in range(4)],
        "doc_id long, text string").write.parquet(train)
    spark.createDataFrame(
        [(1, "common words repeated"), (2, "zyx qwv unseen gibberish")],
        "doc_id long, text string").write.parquet(docs)
    for i in range(3):
        out = str(tmp_path / f"lc_scored_{i}.parquet")
        assert main(["corpus", "score", "-i", docs, "--train", train,
                     "-o", out], spark=spark) == 0
        assert empty_registry() == 0


def test_cli_corpus_operator_errors_exit_2(spark, tmp_path, capsys):
    """Operator ValueErrors from corpus subcommands print `error: ...` to
    stderr and return 2 (same convention as the scrub missing-column
    path) instead of escaping as raw tracebacks."""
    src = str(tmp_path / "ce.parquet")
    spark.createDataFrame([(1, "a b c")], "doc_id long, text string") \
        .write.parquet(src)
    out = str(tmp_path / "ce_out.parquet")
    rc = main(["corpus", "chunk", "-i", src, "-o", out,
               "--chunk-tokens", "4", "--overlap", "9"], spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert err.startswith("error:") and "overlap" in err


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("colcheck") / "docs.parquet")
    spark.createDataFrame([(1, "a b c", "s")],
                          "doc_id long, text string, source string") \
        .write.parquet(path)
    return path


@pytest.mark.parametrize("cmd, extra", [
    ("report", ["--text-col", "nope"]),
    ("dedup", ["-o", "{out}", "--text-col", "nope"]),
    ("index", ["-o", "{out}", "--text-col", "nope"]),
    ("admit", ["--index", "{out}", "-o", "{out}", "--text-col", "nope"]),
    ("score", ["-o", "{out}", "--text-col", "nope"]),
    ("gopher", ["-o", "{out}", "--text-col", "nope"]),
    ("dsir", ["--target", "{src}", "-k", "1", "-o", "{out}",
              "--text-col", "nope"]),
    ("c4", ["-o", "{out}", "--text-col", "nope"]),
    ("repetition", ["-o", "{out}", "--text-col", "nope"]),
    ("chunk", ["-o", "{out}", "--text-col", "nope"]),
    ("eindex", ["-o", "{out}", "--id-col", "doc_id", "--vec-col", "nope"]),
    ("eadmit", ["--index", "{out}", "-o", "{out}", "--id-col", "doc_id",
                "--vec-col", "nope"]),
])
def test_cli_corpus_missing_column_exits_2_before_any_job(
        spark, docs_parquet, tmp_path, capsys, cmd, extra):
    """A corpus command naming a column its input lacks exits 2 with
    `column(s) not in input` and runs no Spark job beyond the one that
    reads the parquet schema."""
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    read_jobs = jobs(f"read-{cmd}",
                     lambda: spark.read.parquet(docs_parquet).columns)
    argv = ["corpus", cmd, "-i", docs_parquet] + [
        a.format(src=docs_parquet, out=str(tmp_path / "out"))
        for a in extra]
    rc = []
    assert jobs(f"cmd-{cmd}", lambda: rc.append(main(argv, spark=spark))) \
        == read_jobs
    assert rc == [2]
    err = capsys.readouterr().err
    assert err.startswith("error: column(s) not in input:") and "nope" in err


def test_cli_corpus_fulladmit(spark, tmp_path, capsys):
    """r9: `corpus fulladmit` runs the composed three-tier admit against
    both indexes, writes admitted rows + optional decisions, reports
    per-tier rejection counts, and --update-index extends BOTH indexes
    so an immediate re-admit of the same batch drops everything."""
    from replibyte_spark.operators.dedup import build_minhash_index
    from replibyte_spark.operators.similarity import build_ann_index

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    mh, ann = str(tmp_path / "fa_mh"), str(tmp_path / "fa_ann")
    build_minhash_index(corpus, mh, n_hashes=12, bands=4, n=3)
    build_ann_index(spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0]), (2, [0.0, 1.0, 0.0, 0.4])],
        "doc_id long, embedding array<double>"),
        ann, bits=4, id_col="doc_id", dim=4)
    batch = str(tmp_path / "fa_batch.parquet")
    spark.createDataFrame(
        [(10, "THE quick  brown fox jumps over the lazy dog today",
          [0.7, 0.1, -0.2, 0.3]),                       # exact (normalized)
         (11, "pack my box with five dozen liquor jugs right now please",
          [0.3, -0.4, 0.8, 0.1]),                        # lexical
         (12, "entirely novel words appearing nowhere else",
          [0.0, 1.0, 0.0, 0.4]),                         # semantic (copy of 2)
         (13, "qq ww ee rr tt yy uu ii oo pp",
          [-1.0, -0.2, -0.8, -0.1])],                    # admitted
        "doc_id long, text string, embedding array<double>") \
        .write.parquet(batch)
    outp = str(tmp_path / "fa_admitted.parquet")
    decp = str(tmp_path / "fa_decisions.parquet")
    assert main(["corpus", "fulladmit", "-i", batch,
                 "--mh-index", mh, "--ann-index", ann,
                 "-o", outp, "--decisions", decp,
                 "--lexical-threshold", "0.75",
                 "--update-index"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "admitted 1/4 batch docs" in out
    assert "exact=1, lexical=1, semantic=1" in out
    assert "both indexes extended with 1 docs" in out
    dec = {r.doc_id: r.decision
           for r in spark.read.parquet(decp).collect()}
    assert dec == {10: "exact", 11: "lexical", 12: "semantic",
                   13: "admitted"}
    assert {r.doc_id for r in spark.read.parquet(outp).collect()} == {13}
    # the loop is closed: re-admitting the same batch drops everything
    # (13 is now byte-identical-indexed -> exact tier)
    outp2 = str(tmp_path / "fa_admitted2.parquet")
    assert main(["corpus", "fulladmit", "-i", batch,
                 "--mh-index", mh, "--ann-index", ann,
                 "-o", outp2, "--lexical-threshold", "0.75"],
                spark=spark) == 0
    assert "admitted 0/4 batch docs" in capsys.readouterr().out
    # a batch missing the embedding column errors cleanly
    nobatch = str(tmp_path / "fa_noemb.parquet")
    corpus.write.parquet(nobatch)
    assert main(["corpus", "fulladmit", "-i", nobatch,
                 "--mh-index", mh, "--ann-index", ann,
                 "-o", str(tmp_path / "x.parquet")], spark=spark) == 2
    assert "error: column(s) not in input: embedding" in \
        capsys.readouterr().err


def test_cli_corpus_cluster(spark, tmp_path, capsys):
    """`corpus cluster --mode semdedup/sample/profile`: the semantic-
    clustering curation trio from the shell.  Two near-identical vectors
    land in the same cell and one is removed; the sample respects the
    per-cluster cap; profile prints per-cell size/coherence."""
    src = str(tmp_path / "emb.parquet")
    base = [float(i % 7 - 3) for i in range(8)]
    near = list(base)
    near[0] += 0.01
    rows = [(0, base), (1, near)] + [
        (i, [(((i * 2654435761 + j * 40503 + i * j * 97) % 1009) / 1009.0)
             - 0.5 for j in range(8)])
        for i in range(2, 12)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .write.parquet(src)

    out = str(tmp_path / "survivors.parquet")
    assert main(["corpus", "cluster", "--mode", "semdedup", "-i", src,
                 "-o", out, "--clusters", "3", "--threshold", "0.95"],
                spark=spark) == 0
    assert "semantic dups removed" in capsys.readouterr().out
    ids = {r.vec_id for r in spark.read.parquet(out).collect()}
    # exactly one of the near-identical pair survives; everyone else stays
    assert len(ids & {0, 1}) == 1 and set(range(2, 12)) <= ids

    samp = str(tmp_path / "sample.parquet")
    assert main(["corpus", "cluster", "--mode", "sample", "-i", src,
                 "-o", samp, "--clusters", "3", "--cap", "2"],
                spark=spark) == 0
    assert "cap 2 per cluster" in capsys.readouterr().out
    got = spark.read.parquet(samp).collect()
    per_cell: dict[str, int] = {}
    for r in got:
        per_cell[r.centroid_id] = per_cell.get(r.centroid_id, 0) + 1
    assert per_cell and all(v <= 2 for v in per_cell.values())

    assert main(["corpus", "cluster", "--mode", "profile", "-i", src,
                 "--clusters", "3"], spark=spark) == 0
    out_txt = capsys.readouterr().out
    assert "n_members" in out_txt and "mean_cosine" in out_txt

    # missing output for a writing mode and bad column fail loudly
    assert main(["corpus", "cluster", "--mode", "semdedup", "-i", src],
                spark=spark) == 2
    assert main(["corpus", "cluster", "--mode", "profile", "-i", src,
                 "--vec-col", "nope"], spark=spark) == 2


def test_cli_corpus_classify(spark, tmp_path, capsys, empty_registry):
    """`corpus classify` trains NB on a labeled corpus and predicts
    labels for the input; the persisted model frame is freed when the
    command returns; error convention on a missing label column and an
    all-NULL label corpus."""
    train = str(tmp_path / "nbtrain.parquet")
    spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog ran", "en")
         for i in range(10)]
        + [(10 + i, "le chat est sur le tapis et le chien court", "fr")
           for i in range(10)],
        "doc_id long, text string, lang string").write.parquet(train)
    docs = str(tmp_path / "nbdocs.parquet")
    spark.createDataFrame(
        [(100, "the cat and the dog sat"), (101, "le chat et le chien")],
        "doc_id long, text string").write.parquet(docs)
    out = str(tmp_path / "nbpred.parquet")
    assert main(["corpus", "classify", "-i", docs, "--train", train,
                 "-o", out], spark=spark) == 0
    assert "classified 2 docs" in capsys.readouterr().out
    rows = {r.doc_id: r.pred_label
            for r in spark.read.parquet(out).collect()}
    assert rows == {100: "en", 101: "fr"}
    assert empty_registry() == 0
    assert main(["corpus", "classify", "-i", docs, "--train", train,
                 "-o", out, "--label-col", "nope"], spark=spark) == 2
    assert "error:" in capsys.readouterr().err
    # labeled column exists but is all NULL -> empty priors -> error: exit
    nulltrain = str(tmp_path / "nbnull.parquet")
    spark.createDataFrame([(1, "a b", None)],
                          "doc_id long, text string, lang string") \
        .write.parquet(nulltrain)
    assert main(["corpus", "classify", "-i", docs, "--train", nulltrain,
                 "-o", out], spark=spark) == 2
    assert "priors are empty" in capsys.readouterr().err


def test_cli_corpus_overlap(spark, tmp_path, capsys):
    """`corpus overlap` prints the pairwise sketch matrix (+ exact with
    --exact); missing columns follow the error convention."""
    src = str(tmp_path / "ovl.parquet")
    text = "alpha beta gamma delta epsilon zeta"
    spark.createDataFrame(
        [(1, "s1", text), (2, "s2", text),
         (3, "s3", "one two three four five six")],
        "doc_id long, source string, text string").write.parquet(src)
    assert main(["corpus", "overlap", "-i", src, "--exact"],
                spark=spark) == 0
    got = capsys.readouterr().out
    assert "est_jaccard" in got and "jaccard" in got and "1.0" in got
    assert main(["corpus", "overlap", "-i", src,
                 "--group-col", "nope"], spark=spark) == 2
    assert "error:" in capsys.readouterr().err


def test_cli_corpus_eindex_quantize_flag(spark, tmp_path, capsys):
    corp = str(tmp_path / "qevecs.parquet")
    spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0]), (2, [0.0, 1.0, 0.0, 0.4])],
        "vec_id long, embedding array<double>").write.parquet(corp)
    idx = str(tmp_path / "qeidx")
    assert main(["corpus", "eindex", "-i", corp, "-o", idx,
                 "--bits", "4", "--dim", "4", "--quantize"],
                spark=spark) == 0
    assert "int8 codes stored" in capsys.readouterr().out
    cols = set(spark.read.parquet(f"{idx}/corpus").columns)
    assert {"q", "qscale"} <= cols


def test_cli_corpus_score_order2(spark, tmp_path, capsys):
    """`corpus score --order 2` scores with the bigram LM: a scrambled
    doc with identical unigram stats ranks worse; empty-transition
    training follows the error convention."""
    train = str(tmp_path / "bt.parquet")
    spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(8)],
        "doc_id long, text string").write.parquet(train)
    docs = str(tmp_path / "bd.parquet")
    spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string").write.parquet(docs)
    out = str(tmp_path / "bscored.parquet")
    assert main(["corpus", "score", "-i", docs, "--train", train,
                 "-o", out, "--order", "2"], spark=spark) == 0
    assert "order=2" in capsys.readouterr().out
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].perplexity < rows[2].perplexity
    # single-token training corpus -> no transitions -> clean error
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(1, "single")], "doc_id long, text string") \
        .write.parquet(bad)
    assert main(["corpus", "score", "-i", docs, "--train", bad,
                 "-o", out, "--order", "2"], spark=spark) == 2
    assert "no token transitions" in capsys.readouterr().err


def test_cli_corpus_mix(spark, tmp_path, capsys):
    """`corpus mix` with a temperature flattens the head; --weights path
    and the error convention both work."""
    src = str(tmp_path / "mixdocs.parquet")
    rows = ([(i, "en", "tok " * 30) for i in range(200)]
            + [(1000 + i, "fi", "tok " * 30) for i in range(10)])
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.parquet(src)
    from pyspark.sql import functions as F

    out = str(tmp_path / "mixed.parquet")
    assert main(["corpus", "mix", "-i", src, "-o", out,
                 "--budget", "1500", "--temperature", "3.0"],
                spark=spark) == 0
    assert "temperature=3.0" in capsys.readouterr().out
    kept = spark.read.parquet(out)
    counts = {r["lang"]: r["n"] for r in
              kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    # raw en share 200/210 ~ 0.95; flattened share must drop noticeably
    assert counts.get("fi", 0) > 0
    assert counts["en"] / sum(counts.values()) < 0.9
    assert main(["corpus", "mix", "-i", src, "-o", out,
                 "--budget", "1500", "--weights", "en=0.5,fi=0.5"],
                spark=spark) == 0
    assert "explicit weights" in capsys.readouterr().out
    assert main(["corpus", "mix", "-i", src, "-o", out,
                 "--budget", "10", "--weights", "notkeyvalue"],
                spark=spark) == 2
    assert "error:" in capsys.readouterr().err
    assert main(["corpus", "mix", "-i", src, "-o", out, "--budget", "10",
                 "--temperature", "0"], spark=spark) == 2
    assert "error:" in capsys.readouterr().err


def test_cli_corpus_gopher(spark, tmp_path, capsys):
    """`corpus gopher` filters on the published rule set; --flags keeps
    every row with per-rule columns."""
    from tests.test_gopher import CASES, GOOD

    src = str(tmp_path / "gq.parquet")
    spark.createDataFrame(
        [(1, GOOD), (2, CASES["word_count"])],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "gq_out.parquet")
    assert main(["corpus", "gopher", "-i", src, "-o", out],
                spark=spark) == 0
    assert "kept 1/2" in capsys.readouterr().out
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]
    out2 = str(tmp_path / "gq_flags.parquet")
    assert main(["corpus", "gopher", "-i", src, "-o", out2, "--flags"],
                spark=spark) == 0
    assert "(1 pass all rules)" in capsys.readouterr().out
    rows = {r.doc_id: r.gopher_pass
            for r in spark.read.parquet(out2).collect()}
    assert rows == {1: True, 2: False}
    # a lowered floor admits the short doc
    out3 = str(tmp_path / "gq_low.parquet")
    assert main(["corpus", "gopher", "-i", src, "-o", out3,
                 "--min-words", "1"], spark=spark) == 0
    # the short doc clears the lowered word floor but still has zero
    # required stop words, so only the good doc survives
    assert spark.read.parquet(out3).count() == 1


def test_cli_corpus_c4_and_repetition(spark, tmp_path, capsys):
    """`corpus c4` replaces text with surviving lines; `corpus
    repetition` filters on the 13 published repetition rules."""
    from tests.test_c4 import GOOD

    src = str(tmp_path / "c4.parquet")
    spark.createDataFrame(
        [(1, GOOD + "\nnoise line without terminal punctuation"),
         (2, "short page.")],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "c4_out.parquet")
    assert main(["corpus", "c4", "-i", src, "-o", out], spark=spark) == 0
    assert "kept 1/2" in capsys.readouterr().out
    kept = spark.read.parquet(out).collect()
    assert [r.doc_id for r in kept] == [1] and kept[0].text == GOOD
    out2 = str(tmp_path / "c4_flags.parquet")
    assert main(["corpus", "c4", "-i", src, "-o", out2, "--flags",
                 "--bad-words", "fox,zzz"], spark=spark) == 0
    rows = {r.doc_id: r.c4_pass
            for r in spark.read.parquet(out2).collect()}
    assert rows == {1: False, 2: False}  # 'fox' is now a bad word

    rsrc = str(tmp_path / "rep.parquet")
    spark.createDataFrame(
        [(1, " ".join("w%02d" % i for i in range(60))),
         (2, "spam spam spam spam spam spam spam spam")],
        "doc_id long, text string").write.parquet(rsrc)
    rout = str(tmp_path / "rep_out.parquet")
    assert main(["corpus", "repetition", "-i", rsrc, "-o", rout],
                spark=spark) == 0
    assert "kept 1/2" in capsys.readouterr().out
    assert [r.doc_id
            for r in spark.read.parquet(rout).collect()] == [1]
    rout2 = str(tmp_path / "rep_flags.parquet")
    assert main(["corpus", "repetition", "-i", rsrc, "-o", rout2,
                 "--flags"], spark=spark) == 0
    rows = {r.doc_id: r.repetition_pass
            for r in spark.read.parquet(rout2).collect()}
    assert rows == {1: True, 2: False}


def test_cli_corpus_dsir(spark, tmp_path, capsys):
    """`corpus dsir` selects k raw docs toward the target profile and
    joins the payload columns back."""
    from tests.test_dsir import CAT, DOG

    raw = str(tmp_path / "raw.parquet")
    spark.createDataFrame(
        [(i, CAT + f" x{i}") for i in range(6)]
        + [(10 + i, DOG + f" x{i}") for i in range(6)],
        "doc_id long, text string").write.parquet(raw)
    tgt = str(tmp_path / "tgt.parquet")
    spark.createDataFrame([(100, CAT)],
                          "doc_id long, text string").write.parquet(tgt)
    out = str(tmp_path / "sel.parquet")
    assert main(["corpus", "dsir", "-i", raw, "--target", tgt,
                 "-o", out, "-k", "4", "--buckets", "512"],
                spark=spark) == 0
    assert "selected 4/12" in capsys.readouterr().out
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4
    assert {"doc_id", "n_feats", "logw", "key", "text"} <= \
        set(rows[0].asDict())
    # the cat block dominates
    assert sum(1 for r in rows if r["doc_id"] < 10) >= 3
    # fit-and-save, then score a batch off the stored model: the same
    # corpus selects the same ids via either path
    model = str(tmp_path / "model")
    out2 = str(tmp_path / "sel2.parquet")
    assert main(["corpus", "dsir", "-i", raw, "--target", tgt,
                 "-o", out2, "-k", "4", "--buckets", "512",
                 "--save-model", model], spark=spark) == 0
    assert "model saved" in capsys.readouterr().out
    out3 = str(tmp_path / "sel3.parquet")
    assert main(["corpus", "dsir", "-i", raw, "--model", model,
                 "-o", out3, "-k", "4"], spark=spark) == 0
    ids2 = sorted(r.doc_id for r in spark.read.parquet(out2).collect())
    ids3 = sorted(r.doc_id for r in spark.read.parquet(out3).collect())
    assert ids2 == ids3
    # exactly one of --target / --model
    assert main(["corpus", "dsir", "-i", raw, "-o", out3, "-k", "1"],
                spark=spark) == 2
    assert "error:" in capsys.readouterr().err


def test_cli_dump_diff(spark, conf, capsys):
    """`dump diff A B` prints the per-table delta table; unknown names
    follow the error convention."""
    assert main(["-c", conf, "dump", "create", "-n", "da"],
                spark=spark) == 0
    assert main(["-c", conf, "dump", "create", "-n", "db"],
                spark=spark) == 0
    capsys.readouterr()
    assert main(["-c", conf, "dump", "diff", "da", "db"], spark=spark) == 0
    got = capsys.readouterr().out
    assert "table_name" in got and "rows_added" in got
    assert main(["-c", conf, "dump", "diff", "da", "nope"],
                spark=spark) == 2
    assert "error:" in capsys.readouterr().err


def test_cli_dump_diff_decrypts_encrypted_columns(spark, tmp_path, sf_dir,
                                                  capsys):
    """Two dumps of the same table with an encrypted column diff to
    0 added / 0 removed: the config's key decrypts before comparing
    (AES-GCM re-ciphers identical plaintext with a fresh IV)."""
    conf = tmp_path / "enc.yaml"
    conf.write_text(f"""
encryption_key: diff-test-key
source:
  connection_uri: parquet://{sf_dir}
  only_tables:
    - table: nation
datastore:
  dir: {tmp_path}/encstore
  encrypted_columns:
    nation: [n_name]
""")
    for name in ("ea", "eb"):
        assert main(["-c", str(conf), "dump", "create", "-n", name],
                    spark=spark) == 0
    capsys.readouterr()
    assert main(["-c", str(conf), "dump", "diff", "ea", "eb"],
                spark=spark) == 0
    row = next(line for line in capsys.readouterr().out.splitlines()
               if "nation" in line)
    assert [c.strip() for c in row.strip("|").split("|")] == \
        ["nation", "25", "25", "0", "0", "false"]


def test_cli_source_commands_need_only_a_source(spark, tmp_path, sf_dir,
                                                capsys):
    """`source schema`/`stats` read the source config alone; a
    datastore-only config makes every command that needs a source or a
    destination exit 2 instead of raising."""
    only_src = tmp_path / "src.yaml"
    only_src.write_text(f"""
source:
  connection_uri: parquet://{sf_dir}
  only_tables:
    - table: region
""")
    assert main(["-c", str(only_src), "source", "schema"], spark=spark) == 0
    assert "r_regionkey" in capsys.readouterr().out
    no_src = tmp_path / "nosrc.yaml"
    no_src.write_text(f"datastore:\n  dir: {tmp_path}/store\n")
    for argv, err in ((["source", "stats"], "require source config"),
                      (["dump", "create"], "requires source and datastore"),
                      (["dump", "restore", "remote", "-v", "latest"],
                       "requires datastore and destination")):
        assert main(["-c", str(no_src), *argv], spark=spark) == 2, argv
        assert err in capsys.readouterr().err


def test_cli_source_stats(spark, conf, capsys):
    """`source stats` runs the distributed ANALYZE over the configured
    (only_tables-pruned) source; --tables narrows, --approx switches to
    the HLL path, unknown tables error."""
    assert main(["-c", conf, "source", "stats"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "n_nationkey" in out and "r_name" in out
    assert "c_custkey" not in out     # only_tables pruned

    assert main(["-c", conf, "source", "stats", "--tables", "region",
                 "--approx"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "n_nationkey" not in out

    assert main(["-c", conf, "source", "stats", "--tables", "nope"],
                spark=spark) == 2
    assert "unknown table(s): nope" in capsys.readouterr().err

    # r12 ADVICE: whitespace-tolerant list, and an unknown name errors
    # even when other names match (it must not be silently ignored)
    assert main(["-c", conf, "source", "stats", "--tables",
                 "nation, region"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "n_nationkey" in out

    assert main(["-c", conf, "source", "stats", "--tables",
                 "region,typo_table"], spark=spark) == 2
    assert "unknown table(s): typo_table" in capsys.readouterr().err


def test_cli_corpus_cap(spark, tmp_path, capsys, sf_dir):
    out = str(tmp_path / "capped")
    assert main(["corpus", "cap", "-i", f"{sf_dir}/documents.parquet",
                 "-o", out, "--group-col", "lang", "--cap", "60"],
                spark=spark) == 0
    msg = capsys.readouterr().out
    assert "capped lang at 60" in msg
    got = spark.read.parquet(out)
    per = {r.lang: r.n for r in got.groupBy("lang").count()
           .withColumnRenamed("count", "n").collect()}
    assert max(per.values()) <= 60
    assert main(["corpus", "cap", "-i", f"{sf_dir}/documents.parquet",
                 "-o", out, "--group-col", "nope", "--cap", "1"],
                spark=spark) == 2


def test_cli_corpus_quota_resumes_state_across_runs(spark, tmp_path, capsys):
    """The production property: re-running `corpus quota` with the same
    checkpoint processes only NEW files and the per-group budget carries
    over — earlier admissions are never evicted, later arrivals only get
    the remaining slots."""
    import pandas as pd

    src = tmp_path / "arrivals"
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def arrive(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "source"]).to_parquet(
            src / name, index=False)

    # batch 1: en has 3 docs against a cap of 4 — all admitted
    arrive("b1.parquet", [(1, "en"), (2, "en"), (3, "en"), (10, "de")])
    assert main(["corpus", "quota", "-i", str(src), "-o", out,
                 "--checkpoint", ckpt, "--group-col", "source",
                 "--cap", "4"], spark=spark) == 0
    assert "4 rows admitted" in capsys.readouterr().out

    # batch 2: en has 3 more — only ONE slot left, smallest id takes it
    arrive("b2.parquet", [(4, "en"), (5, "en"), (6, "en"), (11, "de")])
    assert main(["corpus", "quota", "-i", str(src), "-o", out,
                 "--checkpoint", ckpt, "--group-col", "source",
                 "--cap", "4"], spark=spark) == 0
    assert "6 rows admitted" in capsys.readouterr().out

    got = {(r.source, r.doc_id)
           for r in spark.read.parquet(out).collect()}
    assert got == {("en", 1), ("en", 2), ("en", 3), ("en", 4),
                   ("de", 10), ("de", 11)}


def test_cli_corpus_weighted(spark, tmp_path, capsys, sf_dir):
    out = str(tmp_path / "weighted")
    assert main(["corpus", "weighted", "-i", f"{sf_dir}/documents.parquet",
                 "-o", out], spark=spark) == 0
    msg = capsys.readouterr().out
    assert "weighted sample:" in msg
    n_in = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_out = spark.read.parquet(out).count()
    assert 0 < n_out < n_in

    # explicit score column: 1e6 keeps everything
    from pyspark.sql import functions as F

    scored = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .withColumn("s", F.lit(1_000_000)))
    src = str(tmp_path / "scored.parquet")
    scored.write.mode("overwrite").parquet(src)
    assert main(["corpus", "weighted", "-i", src, "-o", out,
                 "--score-col", "s"], spark=spark) == 0
    assert spark.read.parquet(out).count() == n_in

    assert main(["corpus", "weighted", "-i", src, "-o", out,
                 "--score-col", "nope"], spark=spark) == 2


def test_cli_corpus_esearch_uses_tuned_sidecar(spark, tmp_path, capsys,
                                               sf_dir):
    """`corpus esearch` with no --n-probe takes the probe count the
    build-time autotune recorded; --n-probe overrides; method=lsh reads
    bits/seed/dim from the meta sidecar."""
    vecs = str(tmp_path / "es_vecs.parquet")
    (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
     .filter("vec_id < 200").write.parquet(vecs))
    idx = str(tmp_path / "es_idx")
    assert main(["corpus", "eindex", "-i", vecs, "-o", idx,
                 "--dim", "64", "--target-recall", "0.5"],
                spark=spark) == 0
    built = capsys.readouterr().out
    assert "tuned n_probe=" in built
    queries = str(tmp_path / "es_q.parquet")
    (spark.read.parquet(vecs).filter("vec_id % 50 = 0")
     .write.parquet(queries))
    out = str(tmp_path / "es_out.parquet")
    assert main(["corpus", "esearch", "--index", idx, "-q", queries,
                 "-o", out, "--k", "3"], spark=spark) == 0
    msg = capsys.readouterr().out
    assert "(ivf n_probe=" in msg and "(sidecar-tuned)" in msg
    res = spark.read.parquet(out)
    assert res.groupBy("query_id").count().agg(
        {"count": "max"}).first()[0] <= 3
    # explicit override wins over the sidecar
    assert main(["corpus", "esearch", "--index", idx, "-q", queries,
                 "-o", out, "--k", "3", "--n-probe", "1"],
                spark=spark) == 0
    assert "ivf n_probe=1" in capsys.readouterr().out
    # lsh method works off the same layout
    assert main(["corpus", "esearch", "--index", idx, "-q", queries,
                 "-o", out, "--method", "lsh", "--multi-probe", "1"],
                spark=spark) == 0
    assert "lsh bits=" in capsys.readouterr().out
    # bad query columns: contract error, exit 2
    badq = str(tmp_path / "es_badq.parquet")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(badq)
    assert main(["corpus", "esearch", "--index", idx, "-q", badq,
                 "-o", out], spark=spark) == 2


def test_cli_corpus_partition_then_compact(spark, tmp_path, capsys, sf_dir):
    """`corpus partition` writes the time-partitioned layout;
    `corpus compact` auto-detects it (vs the MinHash/ANN index layouts)
    and rewrites each partition into size-targeted files."""
    from replibyte_spark.sinks.partitioned import partition_files

    littered = str(tmp_path / "ev_lit.parquet")
    (spark.read.parquet(f"{sf_dir}/events.parquet").repartition(5)
     .write.parquet(littered))
    layout = str(tmp_path / "ev_part")
    assert main(["corpus", "partition", "-i", littered, "-o", layout],
                spark=spark) == 0
    msg = capsys.readouterr().out
    assert "event_date partitions" in msg
    before = sum(len(v) for v in partition_files(spark, layout).values())
    assert before > len(partition_files(spark, layout))  # litter: >1 file/part
    assert main(["corpus", "compact", "--index", layout,
                 "--max-records-per-file", "1000000"], spark=spark) == 0
    msg = capsys.readouterr().out
    assert "compacted" in msg and "partitions" in msg
    after = partition_files(spark, layout)
    assert all(len(v) == 1 for v in after.values())
    # wrong ts col is a contract error
    assert main(["corpus", "partition", "-i", littered, "-o", layout,
                 "--ts-col", "nope"], spark=spark) == 2


def test_cli_corpus_esearch_quantized_methods(spark, tmp_path, capsys,
                                              sf_dir):
    """`corpus esearch --method qivf` searches the stored code columns;
    an index built without them is a contract error, not a traceback."""
    vecs = str(tmp_path / "esq_vecs.parquet")
    (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
     .filter("vec_id < 200").write.parquet(vecs))
    queries = str(tmp_path / "esq_q.parquet")
    (spark.read.parquet(vecs).filter("vec_id % 50 = 0")
     .write.parquet(queries))
    plain = str(tmp_path / "esq_plain")
    assert main(["corpus", "eindex", "-i", vecs, "-o", plain,
                 "--dim", "64"], spark=spark) == 0
    out = str(tmp_path / "esq_out.parquet")
    # plain layout: the quantized method refuses cleanly
    assert main(["corpus", "esearch", "--index", plain, "-q", queries,
                 "-o", out, "--method", "qivf"], spark=spark) == 2
    assert "no SQ8 codes" in capsys.readouterr().err
    # quantized layout: k-bounded neighbor sets
    full = str(tmp_path / "esq_full")
    assert main(["corpus", "eindex", "-i", vecs, "-o", full,
                 "--dim", "64", "--quantize"], spark=spark) == 0
    capsys.readouterr()
    assert main(["corpus", "esearch", "--index", full, "-q", queries,
                 "-o", out, "--method", "qivf", "--n-probe", "4"],
                spark=spark) == 0
    assert "qivf n_probe=4" in capsys.readouterr().out
    res = spark.read.parquet(out)
    assert res.groupBy("query_id").count().agg(
        {"count": "max"}).first()[0] <= 5


def test_cli_corpus_compact_recovers_crashed_swap(spark, tmp_path, capsys,
                                                  sf_dir):
    """r13 review: the partitioned.py contract says 're-running
    compaction IS the recovery procedure', but the CLI's layout
    detection used to bail on the missing live path before the recovery
    could run.  Simulate the crash window and re-run through the CLI."""
    import os

    layout = str(tmp_path / "ev_crash")
    assert main(["corpus", "partition",
                 "-i", f"{sf_dir}/events.parquet", "-o", layout],
                spark=spark) == 0
    capsys.readouterr()
    os.rename(layout, layout + ".bak")  # crashed between the two renames
    os.makedirs(layout + ".tmp")        # orphaned staging dir
    assert main(["corpus", "compact", "--index", layout,
                 "--max-records-per-file", "1000000"], spark=spark) == 0
    cap = capsys.readouterr()
    assert "recovered crashed compaction swap" in cap.err
    assert "compacted" in cap.out
    assert not os.path.exists(layout + ".bak")
    assert spark.read.parquet(layout).count() > 0
