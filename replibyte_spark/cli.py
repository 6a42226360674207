"""Command-line interface — the reference's clap command tree restated.

Reference: CLI/SubCommand (/root/reference/replibyte/src/cli.rs:9-131),
dispatched in main.rs:84-209:

    replibyte -c conf.yaml dump list
    replibyte -c conf.yaml dump create [-s <type> -i] [-f <file>] [-n <name>]
    replibyte -c conf.yaml dump restore remote -v <latest|name> [-o]
    replibyte -c conf.yaml dump restore local -v <latest|name>
              [-i postgresql|mysql|mongodb] [-t tag] [-p port] [-r] [-o]
    replibyte -c conf.yaml dump delete <name>|--older-than Nd|--keep-last N
    replibyte -c conf.yaml transformer list
    replibyte -c conf.yaml source schema

Beyond the reference tree, a `corpus` subtree exposes the curation
operators over plain parquet (no config file needed):

    replibyte corpus report -i docs.parquet [--group-col source]
    replibyte corpus scrub  -i docs.parquet -o clean.parquet [--columns text]
    replibyte corpus dedup  -i docs.parquet -o kept.parquet [--threshold 0.8]

`python -m replibyte_spark` exposes the same tree over the Spark engine:
every subcommand builds the same declarative plans the library API exposes
(plans/pipeline.py, introspect.py, sinks/datastore.py).  `--no-telemetry`
is accepted for argv compatibility and is a no-op — this engine has no
telemetry at all.  `dump restore local` (reference cli.rs:75-96: spawn a
Docker container and restore into it) is implemented since r13 on
sinks/docker_dest.py (K4); without a reachable Docker daemon it fails
loudly with guidance instead of silently no-op'ing.
"""

from __future__ import annotations

import argparse
import re
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="replibyte-spark",
        description="Seed databases with production data while keeping "
                    "sensitive data safe — Spark engine.")
    p.add_argument("-c", "--config", required=False,
                   metavar="configuration file")
    p.add_argument("--no-telemetry", action="store_true",
                   help="accepted for compatibility; this engine sends "
                        "no telemetry")
    p.add_argument("--cpus", type=int, default=None,
                   help="local[] parallelism (default: env/auto)")
    sub = p.add_subparsers(dest="cmd", required=True)

    dump = sub.add_parser("dump", help="all dump commands")
    dsub = dump.add_subparsers(dest="dump_cmd", required=True)

    dsub.add_parser("list", help="list available dumps")

    create = dsub.add_parser("create", help="launch dump")
    create.add_argument("-n", "--name", default=None, help="dump name")
    create.add_argument("-f", "--file", default=None, metavar="dump file",
                        help="read the dump from this file instead of the "
                             "configured source (.sql or mongodump archive)")
    create.add_argument("-s", "--source-type", default=None,
                        choices=["postgresql", "mysql", "mongodb"],
                        help="source type for -i/-f input")
    create.add_argument("-i", "--input", action="store_true",
                        help="import dump from stdin (requires -s)")

    restore = dsub.add_parser("restore", help="all restore commands")
    rsub = restore.add_subparsers(dest="restore_cmd", required=True)
    remote = rsub.add_parser("remote",
                             help="restore dump inside the configured "
                                  "destination")
    remote.add_argument("-v", "--value", required=True,
                        metavar="[latest | dump name]")
    remote.add_argument("-o", "--output", action="store_true",
                        help="stream the restored tables as SQL INSERT "
                             "statements on stdout")
    local = rsub.add_parser("local",
                            help="restore dump inside a local Docker "
                                 "container (reference cli.rs:75-96)")
    local.add_argument("-v", "--value", default="latest",
                       metavar="[latest | dump name]")
    local.add_argument("-i", "--image", default="postgresql",
                       choices=["postgresql", "mysql", "mongodb"],
                       help="Docker image type (reference default: "
                            "postgresql)")
    local.add_argument("-t", "--tag", default=None,
                       help="Docker image tag (defaults: postgres 13, "
                            "mysql 8, mongo 5 — the reference constants)")
    local.add_argument("-p", "--port", type=int, default=None,
                       help="host port to map the container port on")
    local.add_argument("-r", "--remove", action="store_true",
                       help="remove the container after the restore "
                            "(default: leave it running for the dev)")
    local.add_argument("-o", "--output", action="store_true",
                       help="also stream the restored tables as SQL on "
                            "stdout")

    delete = dsub.add_parser("delete", help="delete dumps")
    delete.add_argument("dump", nargs="?", default=None,
                        help="name of the dump to delete")
    delete.add_argument("--older-than", default=None, metavar="Nd",
                        help="delete dumps older than N days, e.g. 14d")
    delete.add_argument("--keep-last", type=int, default=None, metavar="N",
                        help="keep only the last N dumps")
    ddiff = dsub.add_parser(
        "diff", help="exact per-table row/schema diff of two dump "
                     "versions (multiset row deltas via exceptAll)")
    ddiff.add_argument("dump_a", help="older dump name (or 'latest')")
    ddiff.add_argument("dump_b", help="newer dump name (or 'latest')")

    transformer = sub.add_parser("transformer", help="all transformer commands")
    tsub = transformer.add_subparsers(dest="transformer_cmd", required=True)
    tsub.add_parser("list", help="list available transformers")

    source = sub.add_parser("source", help="all source commands")
    ssub = source.add_subparsers(dest="source_cmd", required=True)
    ssub.add_parser("schema", help="show the source schema")
    sstats = ssub.add_parser(
        "stats", help="distributed ANALYZE: per-column row/null/distinct "
                      "counts and typed min/max, one pass per table")
    sstats.add_argument("--approx", action="store_true",
                        help="HLL distinct counts (the at-scale path; "
                             "exact count(DISTINCT) is the default)")
    sstats.add_argument("--tables", default=None,
                        help="comma-separated subset (default: all)")

    corpus = sub.add_parser(
        "corpus", help="training-corpus curation over parquet (no config)")
    csub = corpus.add_subparsers(dest="corpus_cmd", required=True)
    rep = csub.add_parser("report", help="per-group quality/token report")
    rep.add_argument("-i", "--input", required=True, help="parquet path")
    rep.add_argument("--group-col", default="source")
    rep.add_argument("--text-col", default="text")
    gcap = csub.add_parser(
        "cap", help="cap each group at N rows (per-domain balancing; "
                    "deterministic hash-ranked keep, two-phase skew-aware)")
    gcap.add_argument("-i", "--input", required=True)
    gcap.add_argument("-o", "--output", required=True)
    gcap.add_argument("--group-col", default="source")
    gcap.add_argument("--id-col", default="doc_id")
    gcap.add_argument("--cap", type=int, required=True)
    gcap.add_argument("--prefilter-margin", type=float, default=None,
                      help="monster-group hash-quantile prefilter: the "
                           "sort sees ~margin*cap rows per group instead "
                           "of the group (kept set provably identical)")
    quo = csub.add_parser(
        "quota", help="streaming per-group admission quota over a parquet "
                      "directory; re-running with the same --checkpoint "
                      "resumes state, so quotas hold across arrivals")
    quo.add_argument("-i", "--input", required=True,
                     help="directory parquet files arrive into")
    quo.add_argument("-o", "--output", required=True,
                     help="admitted rows (streaming parquet sink)")
    quo.add_argument("--checkpoint", required=True,
                     help="stream checkpoint dir (holds per-group state "
                          "AND the processed-file log)")
    quo.add_argument("--group-col", default="source")
    quo.add_argument("--id-col", default="doc_id")
    quo.add_argument("--cap", type=int, required=True)
    wsa = csub.add_parser(
        "weighted", help="quality-weighted sampling: keep each row with "
                         "probability score/1e6 (deterministic hash draw)")
    wsa.add_argument("-i", "--input", required=True)
    wsa.add_argument("-o", "--output", required=True)
    wsa.add_argument("--id-col", default="doc_id")
    wsa.add_argument("--score-col", default=None,
                     help="integer millionths column to use as the "
                          "keep-probability (default: stopword-density "
                          "score over --text-col)")
    wsa.add_argument("--text-col", default="text")
    scrub = csub.add_parser("scrub", help="redact PII from text columns")
    scrub.add_argument("-i", "--input", required=True)
    scrub.add_argument("-o", "--output", required=True)
    scrub.add_argument("--columns", nargs="+", default=["text"])
    ddp = csub.add_parser("dedup",
                          help="MinHash near-dup removal (canonical kept)")
    ddp.add_argument("-i", "--input", required=True)
    ddp.add_argument("-o", "--output", required=True)
    ddp.add_argument("--id-col", default="doc_id")
    ddp.add_argument("--text-col", default="text")
    ddp.add_argument("--threshold", type=float, default=0.8)
    idx = csub.add_parser("index",
                          help="materialize a MinHash index of a corpus")
    idx.add_argument("-i", "--input", required=True)
    idx.add_argument("-o", "--output", required=True, help="index directory")
    idx.add_argument("--id-col", default="doc_id")
    idx.add_argument("--text-col", default="text")
    idx.add_argument("--threshold", type=float, default=None,
                     help="pick (n_hashes, bands) from the banding S-curve "
                          "for this dedup threshold instead of the defaults")
    idx.add_argument("--target-recall", type=float, default=0.9)
    adm = csub.add_parser(
        "admit", help="keep only batch docs that are NOT near-dups of an "
                      "indexed corpus (incremental ingest)")
    adm.add_argument("-i", "--input", required=True, help="new batch parquet")
    adm.add_argument("--index", required=True, help="index directory")
    adm.add_argument("-o", "--output", required=True)
    adm.add_argument("--id-col", default="doc_id")
    adm.add_argument("--text-col", default="text")
    adm.add_argument("--threshold", type=float, default=0.8)
    adm.add_argument("--update-index", action="store_true",
                     help="append the admitted docs into the index "
                          "(the next batch dedups against them)")
    adm.add_argument("--verify-append", action="store_true",
                     help="guard --update-index with an already-indexed "
                          "id check (one probe) before writing")
    sc = csub.add_parser(
        "score", help="LM perplexity scores (statistical quality)")
    sc.add_argument("-i", "--input", required=True, help="docs to score")
    sc.add_argument("--train", default=None,
                    help="training corpus parquet (default: the input)")
    sc.add_argument("-o", "--output", required=True)
    sc.add_argument("--id-col", default="doc_id")
    sc.add_argument("--text-col", default="text")
    sc.add_argument("--order", type=int, choices=(1, 2), default=1,
                    help="LM order: 1 = unigram, 2 = bigram (transition-"
                         "level; sees word-order defects)")
    gop = csub.add_parser(
        "gopher", help="Gopher/MassiveText rule-based quality filter "
                       "(published thresholds; --flags keeps per-rule "
                       "columns instead of filtering)")
    gop.add_argument("-i", "--input", required=True)
    gop.add_argument("-o", "--output", required=True)
    gop.add_argument("--text-col", default="text")
    gop.add_argument("--min-words", type=int, default=None,
                     help="override the published 50-word floor")
    gop.add_argument("--flags", action="store_true",
                     help="append gq_* flag columns, keep every row")
    dsr = csub.add_parser(
        "dsir", help="DSIR importance resampling: select raw docs whose "
                     "hashed-n-gram profile matches a target corpus "
                     "(Gumbel top-k, deterministic seed)")
    dsr.add_argument("-i", "--input", required=True,
                     help="raw corpus parquet (or the new batch with "
                          "--model)")
    dsr.add_argument("--target",
                     help="target-domain corpus parquet (fit mode; "
                          "omit when scoring with --model)")
    dsr.add_argument("--model",
                     help="stored model layout to score against "
                          "(skips fitting entirely)")
    dsr.add_argument("--save-model",
                     help="after fitting, persist the model layout "
                          "here for later --model scoring")
    dsr.add_argument("-o", "--output", required=True)
    dsr.add_argument("-k", type=int, required=True,
                     help="number of documents to select")
    dsr.add_argument("--buckets", type=int, default=10_000)
    dsr.add_argument("--seed", default="dsir")
    dsr.add_argument("--id-col", default="doc_id")
    dsr.add_argument("--text-col", default="text")
    c4p = csub.add_parser(
        "c4", help="C4 cleaning heuristics (terminal-punct line filter, "
                   ">=5 sentences, lorem-ipsum/brace/bad-word page "
                   "drops; --flags keeps per-rule columns)")
    c4p.add_argument("-i", "--input", required=True)
    c4p.add_argument("-o", "--output", required=True)
    c4p.add_argument("--text-col", default="text")
    c4p.add_argument("--bad-words", default="",
                     help="comma-separated bad-word list (published "
                          "filter uses a deployment wordlist)")
    c4p.add_argument("--flags", action="store_true",
                     help="append c4_* flag columns, keep every row")
    rep = csub.add_parser(
        "repetition", help="Gopher repetition rules (13 published "
                           "thresholds: dup lines/paragraphs, top- and "
                           "duplicated-n-gram char coverage; --flags "
                           "keeps per-rule columns)")
    rep.add_argument("-i", "--input", required=True)
    rep.add_argument("-o", "--output", required=True)
    rep.add_argument("--id-col", default="doc_id")
    rep.add_argument("--text-col", default="text")
    rep.add_argument("--flags", action="store_true",
                     help="append rep_* flag columns, keep every row")
    chk = csub.add_parser(
        "chunk", help="overlapping token windows per doc (RAG ingestion)")
    chk.add_argument("-i", "--input", required=True)
    chk.add_argument("-o", "--output", required=True)
    chk.add_argument("--chunk-tokens", type=int, default=128)
    chk.add_argument("--overlap", type=int, default=32)
    chk.add_argument("--id-col", default="doc_id")
    chk.add_argument("--text-col", default="text")
    lid = csub.add_parser(
        "lid", help="char-n-gram language identification (adds "
                    "pred_lang + lang_score columns)")
    lid.add_argument("-i", "--input", required=True)
    lid.add_argument("-o", "--output", required=True)
    lid.add_argument("--text-col", default="text")
    eidx = csub.add_parser(
        "eindex", help="materialize an ANN index over an embedding corpus")
    eidx.add_argument("-i", "--input", required=True)
    eidx.add_argument("-o", "--output", required=True, help="index directory")
    eidx.add_argument("--id-col", default="vec_id")
    eidx.add_argument("--vec-col", default="embedding")
    eidx.add_argument("--bits", type=int, default=8)
    eidx.add_argument("--dim", type=int, default=None)
    eidx.add_argument("--quantize", action="store_true",
                      help="also store int8 SQ8 code columns (q, qscale) "
                           "so quantized query paths read 1-byte codes "
                           "off the layout")
    eidx.add_argument("--target-recall", type=float, default=None,
                      help="measure the IVF recall curve at build time "
                           "and record the smallest n_probe reaching "
                           "this recall@k in the meta sidecar")
    eadm = csub.add_parser(
        "eadmit", help="keep only batch vectors that are NOT semantic "
                       "near-dups of an indexed embedding corpus")
    eadm.add_argument("-i", "--input", required=True)
    eadm.add_argument("--index", required=True, help="index directory")
    eadm.add_argument("-o", "--output", required=True)
    eadm.add_argument("--id-col", default="vec_id")
    eadm.add_argument("--vec-col", default="embedding")
    eadm.add_argument("--threshold", type=float, default=0.9)
    eadm.add_argument("--update-index", action="store_true",
                      help="append the admitted vectors into the index")
    eadm.add_argument("--verify-append", action="store_true",
                      help="guard --update-index with an already-indexed "
                           "id check (one probe) before writing")
    clu = csub.add_parser(
        "cluster", help="semantic clustering over an embedding corpus: "
                        "SemDeDup within-cluster dedup, cluster-balanced "
                        "sampling, or a per-cluster profile")
    clu.add_argument("--mode", choices=("semdedup", "sample", "profile"),
                     required=True)
    clu.add_argument("-i", "--input", required=True,
                     help="parquet carrying id + embedding columns")
    clu.add_argument("-o", "--output", default=None,
                     help="survivors/sample parquet (unused for profile)")
    clu.add_argument("--id-col", default="vec_id")
    clu.add_argument("--vec-col", default="embedding")
    clu.add_argument("--clusters", type=int, default=16)
    clu.add_argument("--threshold", type=float, default=0.9,
                     help="semdedup: within-cluster cosine dup threshold")
    clu.add_argument("--cap", type=int, default=1000,
                     help="sample: max rows kept per cluster")
    cpt = csub.add_parser(
        "compact", help="consolidate a grown layout's files: MinHash or "
                        "ANN index, or a time-partitioned table "
                        "(auto-detected; partitioned rewrite is a "
                        "crash-safe staged swap)")
    cpt.add_argument("--index", required=True,
                     help="index or partitioned-layout directory")
    cpt.add_argument("--max-records-per-file", type=int, default=2_000_000)
    fadm = csub.add_parser(
        "fulladmit",
        help="three-tier incremental admit: exact fingerprint -> MinHash "
             "band -> embedding, against both indexes (the per-batch "
             "ingest path)")
    fadm.add_argument("-i", "--input", required=True,
                      help="batch parquet carrying id, text AND embedding")
    fadm.add_argument("--mh-index", required=True,
                      help="MinHash index directory (corpus index)")
    fadm.add_argument("--ann-index", required=True,
                      help="ANN index directory (corpus eindex)")
    fadm.add_argument("-o", "--output", required=True,
                      help="admitted rows parquet")
    fadm.add_argument("--decisions", default=None,
                      help="also write (id, decision) per batch doc here")
    fadm.add_argument("--id-col", default="doc_id")
    fadm.add_argument("--text-col", default="text")
    fadm.add_argument("--vec-col", default="embedding")
    fadm.add_argument("--lexical-threshold", type=float, default=0.8)
    fadm.add_argument("--semantic-threshold", type=float, default=0.9)
    fadm.add_argument("--update-index", action="store_true",
                      help="append the admitted docs into BOTH indexes")
    fadm.add_argument("--verify-append", action="store_true",
                      help="guard --update-index with an already-indexed "
                           "id check before writing")
    cls = csub.add_parser(
        "classify", help="Naive-Bayes model-based classification: train "
                         "on a labeled corpus, predict labels for the "
                         "input (the fastText-style model filter)")
    cls.add_argument("-i", "--input", required=True,
                     help="docs to classify (parquet)")
    cls.add_argument("--train", default=None,
                     help="labeled training corpus parquet "
                          "(default: the input)")
    cls.add_argument("-o", "--output", required=True)
    cls.add_argument("--id-col", default="doc_id")
    cls.add_argument("--text-col", default="text")
    cls.add_argument("--label-col", default="lang",
                     help="training label column")
    cls.add_argument("--k", type=float, default=0.5,
                     help="add-k smoothing constant")
    mix = csub.add_parser(
        "mix", help="token-budget corpus mixing: explicit per-stratum "
                    "weights or a temperature (budgets ~ mass^(1/T))")
    mix.add_argument("-i", "--input", required=True)
    mix.add_argument("-o", "--output", required=True)
    mix.add_argument("--budget", type=int, required=True,
                     help="total token budget")
    mix.add_argument("--stratum-col", default="lang")
    mix.add_argument("--text-col", default="text")
    mix.add_argument("--id-col", default="doc_id")
    mg = mix.add_mutually_exclusive_group(required=True)
    mg.add_argument("--temperature", type=float, default=None,
                    help="mT5/unimax flattening: budgets ~ mass^(1/T)")
    mg.add_argument("--weights", default=None,
                    help="explicit stratum weights, e.g. en=0.5,fr=0.3")
    ovl = csub.add_parser(
        "overlap", help="MinHash-sketch pairwise Jaccard overlap between "
                        "corpus groups (sources/shards/snapshots)")
    ovl.add_argument("-i", "--input", required=True)
    ovl.add_argument("--group-col", default="source")
    ovl.add_argument("--text-col", default="text")
    ovl.add_argument("--n-hashes", type=int, default=16)
    ovl.add_argument("--exact", action="store_true",
                     help="also compute the exact Jaccard column "
                          "(quadratic distinct-gram join — verification "
                          "scale only)")
    ese = csub.add_parser(
        "esearch", help="ANN top-k over a materialized eindex; the probe "
                        "count defaults from the index's autotuned meta "
                        "sidecar when the build set --target-recall")
    ese.add_argument("--index", required=True, help="index directory")
    ese.add_argument("-q", "--queries", required=True,
                     help="parquet of query vectors (same id/vec columns)")
    ese.add_argument("-o", "--output", required=True)
    ese.add_argument("--id-col", default="vec_id")
    ese.add_argument("--vec-col", default="embedding")
    ese.add_argument("--k", type=int, default=5)
    ese.add_argument("--method", choices=("ivf", "lsh", "qivf"),
                     default="ivf",
                     help="ivf: exact scoring in probed cells; lsh: "
                          "bucket probes; qivf: int8 SQ8 codes off the "
                          "layout + exact re-rank (index built with "
                          "--quantize)")
    ese.add_argument("--n-probe", type=int, default=None,
                     help="IVF cells per query (default: the tuned value "
                          "from the index meta sidecar, else 2)")
    ese.add_argument("--multi-probe", type=int, default=0,
                     help="LSH neighbor buckets per query (method=lsh)")
    ese.add_argument("--expand", type=int, default=4,
                     help="qivf exact re-rank width (top k*expand "
                          "candidates re-scored on full vectors)")
    part = csub.add_parser(
        "partition", help="rewrite a parquet corpus as a time-partitioned "
                          "layout (one directory per day; date-range "
                          "queries prune to matching directories)")
    part.add_argument("-i", "--input", required=True)
    part.add_argument("-o", "--output", required=True)
    part.add_argument("--ts-col", default="ts")
    part.add_argument("--date-col", default="event_date")
    return p


def _show(df, n: int = 1000) -> None:
    df.show(n, truncate=False)


def _source_override(config, path: str, source_type: str | None):
    """`-f file` / `-i` replace the configured source with a dump file —
    commands/dump.rs:141-188 (stdin/file branches of DumpCommand::Create).
    `.sql` text for postgresql/mysql, mongodump archive for mongodb."""
    from dataclasses import replace

    if source_type == "mongodb" or (source_type is None
                                    and not path.endswith(".sql")):
        uri = f"mongodump://{path}"
    else:
        uri = f"sqltext://{path}"
    if config.source is None:
        from .config import SourceConfig

        return replace(config, source=SourceConfig(connection_uri=uri))
    return replace(config, source=replace(config.source, connection_uri=uri))


def _cmd_dump_create(spark, config, args) -> int:
    from .plans.pipeline import DumpPipeline

    stdin_copy = None
    if args.input:
        if not args.source_type:
            print("error: -i/--input requires -s/--source-type",
                  file=sys.stderr)
            return 2
        import tempfile

        with tempfile.NamedTemporaryFile(
                suffix=".sql" if args.source_type != "mongodb" else ".archive",
                delete=False) as tmp:
            tmp.write(sys.stdin.buffer.read())
            stdin_copy = path = tmp.name
        config = _source_override(config, path, args.source_type)
    elif args.file:
        config = _source_override(config, args.file, args.source_type)
    try:
        info = DumpPipeline(config).run(spark, args.name)
    finally:
        if stdin_copy is not None:
            # the temp file holds a PRE-transformation copy of the dump
            # (PII included) — it must not outlive the command
            import os

            try:
                os.unlink(stdin_copy)
            except OSError:
                pass
    print(f"dump {info.directory_name} created "
          f"({len(info.tables)} tables, {info.size} bytes)")
    return 0


def _cmd_dump_restore_remote(spark, config, args) -> int:
    from .plans.pipeline import RestorePipeline

    if args.output:
        # `-o` (cli.rs:70-72): restore to the stdout sink instead of the
        # configured destination; stdout then carries only SQL
        from dataclasses import replace

        from .config import DestinationConfig

        config = replace(config,
                         destination=DestinationConfig("console://"))
    tables = RestorePipeline(config).run(spark, args.value)
    if not args.output:
        print(f"restored {len(tables)} tables from {args.value}")
    return 0


def _cmd_dump_restore_local(spark, config, args) -> int:
    """`dump restore local` (reference cli.rs:75-96 + RestoreLocalArgs):
    spawn a Docker container of the requested engine and pipe the dump
    into it — K4, sinks/docker_dest.py.  The container is left running
    for the developer unless -r/--remove is given."""
    from .plans.pipeline import print_inserts, read_dump
    from .sinks import docker_dest as DK

    tables = read_dump(spark, config, args.value)
    if args.output:
        print_inserts(tables)
    dest = DK.destination_for(args.image, args.port, args.tag)
    try:
        cid = DK.restore_into_container(tables, dest, dialect=args.image,
                                        keep_container=not args.remove)
    except (RuntimeError, TimeoutError) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    state = "removed after restore" if args.remove else \
        f"listening on localhost:{dest.host_port}"
    # with -o stdout carries only the SQL stream
    print(f"restored {len(tables)} tables from {args.value} into "
          f"{args.image} container {cid} ({state})",
          file=sys.stderr if args.output else sys.stdout)
    return 0


def _cmd_dump_delete(spark, config, args) -> int:
    from .sinks.datastore import Datastore

    modes = [m for m in (args.dump, args.older_than, args.keep_last)
             if m is not None]
    if len(modes) != 1:
        print("error: pass exactly one of <dump name>, --older-than, "
              "--keep-last", file=sys.stderr)
        return 2
    store = Datastore(spark, config.datastore.dir)
    if args.dump is not None:
        store.delete(args.dump)
        print(f"deleted {args.dump}")
        return 0
    if args.older_than is not None:
        m = re.fullmatch(r"(\d+)d", args.older_than)
        if not m:
            print(f"error: --older-than wants e.g. '14d', "
                  f"got {args.older_than!r}", file=sys.stderr)
            return 2
        deleted = store.retain(older_than_days=int(m.group(1)))
    else:
        deleted = store.retain(keep_last=args.keep_last)
    print(f"deleted {len(deleted)} dumps: {', '.join(deleted) or '(none)'}")
    return 0


def _read(spark, path: str, *cols: str):
    """The parquet input at `path`; raises ValueError (exit 2 through
    `_run`) naming each of `cols` the input lacks."""
    df = spark.read.parquet(path)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"column(s) not in input: {', '.join(missing)}")
    return df


def _weights(text: str) -> dict[str, float]:
    """`corpus mix --weights`: 'en=0.5,fr=0.3' -> {'en': 0.5, 'fr': 0.3}."""
    try:
        return {k: float(v) for k, v in
                (pair.split("=", 1) for pair in text.split(","))}
    except ValueError:
        raise ValueError("--weights must look like en=0.5,fr=0.3") from None


def _cmd_corpus(spark, args) -> int:
    """Curation subcommands over plain parquet — the same operators the
    library gates, driven from the shell (no conf.yaml: these act on
    files, not configured sources)."""
    if args.corpus_cmd == "report":
        from . import dialect as D
        from .functions import text as T
        from .operators.sample import corpus_quality_report

        d = D.SPARK
        docs = _read(spark, args.input, args.group_col,
                     args.text_col).selectExpr(
            args.group_col,
            f"CAST({T.token_count_sql(d, args.text_col)} AS BIGINT) "
            f"AS n_tokens",
            f"round({T.quality_score_sql(d, args.text_col)}, 6) AS quality")
        _show(corpus_quality_report(docs, args.group_col))
        return 0
    if args.corpus_cmd == "cap":
        from .operators.sample import per_group_cap

        df = _read(spark, args.input, args.group_col, args.id_col)
        kept = per_group_cap(df, args.group_col, args.id_col, args.cap,
                             head_prefilter_margin=args.prefilter_margin)
        kept.write.mode("overwrite").parquet(args.output)
        n_in, n_out = df.count(), spark.read.parquet(args.output).count()
        print(f"capped {args.group_col} at {args.cap}: {n_in} -> {n_out} "
              f"rows ({args.output})")
        return 0
    if args.corpus_cmd == "quota":
        from .streaming.quota import streaming_group_quota

        schema = _read(spark, args.input, args.group_col, args.id_col).schema
        stream = spark.readStream.schema(schema).parquet(args.input)
        admitted = streaming_group_quota(stream, args.cap,
                                         group_col=args.group_col,
                                         id_col=args.id_col)
        q = (admitted.writeStream.format("parquet")
             .option("path", args.output)
             .option("checkpointLocation", args.checkpoint)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        n = spark.read.parquet(args.output).count()
        print(f"quota {args.group_col}<={args.cap}: {n} rows admitted so "
              f"far ({args.output})")
        return 0
    if args.corpus_cmd == "weighted":
        from . import dialect as D
        from .operators.sample import (score_weighted_filter,
                                       stopword_score_sql)

        df = _read(spark, args.input, args.id_col,
                   args.score_col or args.text_col)
        score = (f"CAST({args.score_col} AS BIGINT)" if args.score_col
                 else stopword_score_sql(D.SPARK, args.text_col))
        kept = score_weighted_filter(df, args.id_col, score)
        kept.write.mode("overwrite").parquet(args.output)
        n_in, n_out = df.count(), spark.read.parquet(args.output).count()
        print(f"weighted sample: {n_in} -> {n_out} rows ({args.output})")
        return 0
    if args.corpus_cmd == "scrub":
        from .functions.pii import scrub_pii

        df = _read(spark, args.input, *args.columns)
        scrub_pii(df, *args.columns).write.mode("overwrite") \
            .parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"scrubbed {', '.join(args.columns)} -> {args.output} "
              f"({n} rows)")
        return 0
    if args.corpus_cmd == "dedup":
        from .operators.dedup import keep_canonical, minhash_near_dup_pairs

        df = _read(spark, args.input, args.id_col, args.text_col)
        pairs = minhash_near_dup_pairs(df, args.id_col, args.text_col,
                                       threshold=args.threshold)
        kept = keep_canonical(df, pairs, args.id_col)
        kept.write.mode("overwrite").parquet(args.output)
        n_in = df.count()
        n_out = spark.read.parquet(args.output).count()
        print(f"kept {n_out}/{n_in} docs -> {args.output} "
              f"({n_in - n_out} near-dups removed at "
              f"jaccard >= {args.threshold})")
        return 0
    if args.corpus_cmd == "index":
        from .operators.dedup import build_minhash_index, pick_lsh_params

        df = _read(spark, args.input, args.id_col, args.text_col)
        kw = {}
        if args.threshold is not None:
            from .operators.dedup import flagged_recall

            # default rejection constraint (reject_at="auto" → threshold/2)
            # keeps the degenerate 1-2 hash configs out: rows-per-band=1
            # makes every single-minhash collision a candidate
            n_hashes, bands = pick_lsh_params(
                args.threshold, target_recall=args.target_recall)
            kw = {"n_hashes": n_hashes, "bands": bands}
            at = (1 + args.threshold) / 2
            e2e = flagged_recall(at, n_hashes, bands, args.threshold)
            print(f"picked n_hashes={n_hashes} bands={bands} "
                  f"(end-to-end recall {e2e:.3f} >= {args.target_recall} "
                  f"at jaccard {at}, verify at {args.threshold}, "
                  f"candidate rate <= 0.05 at {args.threshold / 2})")
        build_minhash_index(df, args.output, id_col=args.id_col,
                            text_col=args.text_col, **kw)
        print(f"indexed {df.count()} docs -> {args.output}")
        return 0
    if args.corpus_cmd == "admit":
        from .operators.dedup import (append_minhash_index,
                                      dedup_batch_against_index)

        batch = _read(spark, args.input, args.id_col, args.text_col)
        kept = dedup_batch_against_index(batch, args.index,
                                         id_col=args.id_col,
                                         text_col=args.text_col,
                                         threshold=args.threshold)
        kept.write.mode("overwrite").parquet(args.output)
        n_in = batch.count()
        admitted = spark.read.parquet(args.output)
        n_out = admitted.count()
        print(f"admitted {n_out}/{n_in} batch docs -> {args.output} "
              f"({n_in - n_out} near-dups of the indexed corpus dropped)")
        if args.update_index:
            # append from the WRITTEN output, not the lazy plan — the
            # admitted set must be the exact rows the caller received
            append_minhash_index(admitted, args.index,
                                 id_col=args.id_col,
                                 text_col=args.text_col,
                                 verify=args.verify_append)
            print(f"index extended with {n_out} docs -> {args.index}")
        return 0
    if args.corpus_cmd == "score":
        from .operators.lm import (bigram_perplexity_scores,
                                   perplexity_scores, train_bigram_lm,
                                   train_unigram_lm)

        docs = _read(spark, args.input, args.id_col, args.text_col)
        train = (_read(spark, args.train, args.id_col, args.text_col)
                 if args.train else docs)
        trainer, scorer, count_col = (
            (train_unigram_lm, perplexity_scores, "n_tokens")
            if args.order == 1 else
            (train_bigram_lm, bigram_perplexity_scores, "n_transitions"))
        lm = trainer(train, id_col=args.id_col, text_col=args.text_col)
        scored = scorer(docs, lm, id_col=args.id_col, text_col=args.text_col)
        scored.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"scored {n} docs -> {args.output} "
              f"(columns: {args.id_col}, {count_col}, cross_entropy, "
              f"perplexity; order={args.order})")
        return 0
    if args.corpus_cmd == "gopher":
        from .functions.gopher import (MIN_WORDS, gopher_filter,
                                       gopher_flags)

        docs = _read(spark, args.input, args.text_col)
        min_words = (args.min_words if args.min_words is not None
                     else MIN_WORDS)
        if args.flags:
            out = gopher_flags(docs, text_col=args.text_col,
                               min_words=min_words)
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output)
            n_pass = n.filter("gopher_pass").count()
            print(f"flagged {n.count()} docs -> {args.output} "
                  f"({n_pass} pass all rules)")
        else:
            kept = gopher_filter(docs, text_col=args.text_col,
                                 min_words=min_words)
            kept.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} docs -> {args.output} "
                  f"({n_in - n_out} failed the Gopher rules)")
        return 0
    if args.corpus_cmd == "dsir":
        from .operators.dsir import (build_dsir_model, dsir_select,
                                     dsir_select_from_model)

        raw = _read(spark, args.input, args.id_col, args.text_col)
        if bool(args.model) == bool(args.target):
            print("error: corpus dsir needs exactly one of --target "
                  "(fit) or --model (score stored)", file=sys.stderr)
            return 2
        if args.model:
            sel = dsir_select_from_model(
                raw, args.model, k=args.k, id_col=args.id_col,
                text_col=args.text_col, seed=args.seed)
            fitted = "stored model"
        else:
            target = _read(spark, args.target, args.id_col, args.text_col)
            if args.save_model:
                build_dsir_model(target, raw, args.save_model,
                                 id_col=args.id_col,
                                 text_col=args.text_col, m=args.buckets)
                sel = dsir_select_from_model(
                    raw, args.save_model, k=args.k, id_col=args.id_col,
                    text_col=args.text_col, seed=args.seed)
                fitted = f"model saved -> {args.save_model}"
            else:
                sel = dsir_select(raw, target, k=args.k,
                                  id_col=args.id_col,
                                  text_col=args.text_col,
                                  m=args.buckets, seed=args.seed)
                fitted = f"m={args.buckets}"
        # join payload columns back on the id (the scored frame is
        # kept narrow for the TakeOrdered)
        out = sel.join(raw, args.id_col)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"selected {n}/{raw.count()} docs -> {args.output} "
              f"({fitted}, seed={args.seed})")
        return 0
    if args.corpus_cmd == "c4":
        from .functions.c4 import c4_filter, c4_flags

        docs = _read(spark, args.input, args.text_col)
        bad = tuple(w for w in args.bad_words.split(",") if w)
        if args.flags:
            out = c4_flags(docs, text_col=args.text_col, bad_words=bad)
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output)
            n_pass = n.filter("c4_pass").count()
            print(f"flagged {n.count()} pages -> {args.output} "
                  f"({n_pass} pass all page rules)")
        else:
            kept = c4_filter(docs, text_col=args.text_col, bad_words=bad)
            kept.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} pages -> {args.output} "
                  f"(text replaced by surviving lines)")
        return 0
    if args.corpus_cmd == "repetition":
        from .operators.repetition import (repetition_filter,
                                           repetition_flags)

        docs = _read(spark, args.input, args.id_col, args.text_col)
        if args.flags:
            out = repetition_flags(docs, text_col=args.text_col,
                                   id_col=args.id_col)
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output)
            n_pass = n.filter("repetition_pass").count()
            print(f"flagged {n.count()} docs -> {args.output} "
                  f"({n_pass} pass all repetition rules)")
        else:
            kept = repetition_filter(docs, text_col=args.text_col,
                                     id_col=args.id_col)
            kept.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} docs -> {args.output} "
                  f"({n_in - n_out} failed the repetition rules)")
        return 0
    if args.corpus_cmd == "chunk":
        from .operators.grouped import chunk_documents

        df = _read(spark, args.input, args.id_col, args.text_col)
        ch = chunk_documents(df, id_col=args.id_col, text_col=args.text_col,
                             chunk_tokens=args.chunk_tokens,
                             overlap=args.overlap)
        ch.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"chunked -> {args.output} ({n} chunks of "
              f"<= {args.chunk_tokens} tokens, overlap {args.overlap})")
        return 0
    if args.corpus_cmd == "eindex":
        from .operators.similarity import build_ann_index

        df = _read(spark, args.input, args.id_col, args.vec_col)
        build_ann_index(df, args.output, bits=args.bits, id_col=args.id_col,
                        vec_col=args.vec_col, dim=args.dim,
                        quantize=args.quantize,
                        target_recall=args.target_recall)
        tuned = ""
        if args.target_recall is not None:
            from .operators.similarity import load_ann_index_meta
            tuned = (f", tuned n_probe="
                     f"{load_ann_index_meta(spark, args.output)['n_probe']}"
                     f" at recall>={args.target_recall}")
        print(f"indexed {df.count()} vectors -> {args.output} "
              f"(bits={args.bits}"
              + (", int8 codes stored" if args.quantize else "")
              + tuned + ")")
        return 0
    if args.corpus_cmd == "eadmit":
        from .operators.similarity import (append_ann_index,
                                           embedding_index_admit)

        batch = _read(spark, args.input, args.id_col, args.vec_col)
        kept = embedding_index_admit(batch, args.index, id_col=args.id_col,
                                     vec_col=args.vec_col,
                                     threshold=args.threshold)
        kept.write.mode("overwrite").parquet(args.output)
        n_in = batch.count()
        admitted = spark.read.parquet(args.output)
        n_out = admitted.count()
        print(f"admitted {n_out}/{n_in} batch vectors -> {args.output} "
              f"({n_in - n_out} semantic near-dups of the indexed corpus "
              f"dropped at cosine >= {args.threshold})")
        if args.update_index:
            append_ann_index(admitted, args.index, id_col=args.id_col,
                             vec_col=args.vec_col,
                             verify=args.verify_append)
            print(f"index extended with {n_out} vectors -> {args.index}")
        return 0
    if args.corpus_cmd == "fulladmit":
        from pyspark.sql import functions as F

        from .operators.dedup import append_minhash_index
        from .operators.ingest import full_incremental_admit_decisions
        from .operators.similarity import append_ann_index

        batch = _read(spark, args.input, args.id_col, args.text_col,
                      args.vec_col)
        dec = full_incremental_admit_decisions(
            batch, args.mh_index, args.ann_index, id_col=args.id_col,
            text_col=args.text_col, vec_col=args.vec_col,
            lexical_threshold=args.lexical_threshold,
            semantic_threshold=args.semantic_threshold)
        if args.decisions:
            dec.write.mode("overwrite").parquet(args.decisions)
            dec = spark.read.parquet(args.decisions)
        counts = {r["decision"]: r["n"] for r in
                  dec.groupBy("decision")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        kept = batch.join(
            dec.filter(F.col("decision") == "admitted")
            .select(args.id_col), on=args.id_col, how="left_semi")
        kept.write.mode("overwrite").parquet(args.output)
        admitted = spark.read.parquet(args.output)
        n_out = admitted.count()
        total = sum(counts.values())
        tiers = ", ".join(f"{t}={counts.get(t, 0)}"
                          for t in ("exact", "lexical", "semantic"))
        print(f"admitted {n_out}/{total} batch docs -> {args.output} "
              f"(rejected: {tiers})")
        if args.decisions:
            print(f"decisions -> {args.decisions}")
        if args.update_index:
            # append from the WRITTEN output (same rule as `corpus admit`)
            append_minhash_index(admitted, args.mh_index,
                                 id_col=args.id_col,
                                 text_col=args.text_col,
                                 verify=args.verify_append)
            append_ann_index(admitted.select(args.id_col, args.vec_col),
                             args.ann_index, id_col=args.id_col,
                             vec_col=args.vec_col,
                             verify=args.verify_append)
            print(f"both indexes extended with {n_out} docs")
        return 0
    if args.corpus_cmd == "compact":
        import os

        from .util import hadoop_exists

        # layout detection via Hadoop FS (os.path.isdir is always False
        # for s3a://hdfs:// index paths — the admit path's idiom)
        if hadoop_exists(spark, os.path.join(args.index, "signatures")):
            from .operators.dedup import compact_minhash_index

            stats = compact_minhash_index(
                spark, args.index,
                max_records_per_file=args.max_records_per_file)
        elif hadoop_exists(spark, os.path.join(args.index, "corpus")):
            from .operators.similarity import (DRIFT_REBUILD_THRESHOLD,
                                               ann_index_drift,
                                               compact_ann_index)

            stats = compact_ann_index(
                spark, args.index,
                max_records_per_file=args.max_records_per_file)
            dr = ann_index_drift(spark, args.index)
            if dr["drift"] is not None:
                print(f"centroid drift: mean assignment cosine "
                      f"{dr['current_mean_assign_cos']} vs "
                      f"{dr['build_mean_assign_cos']} at build "
                      f"(drift {dr['drift']})")
                if dr["rebuild_recommended"]:
                    print(f"warning: drift exceeds "
                          f"{DRIFT_REBUILD_THRESHOLD} — frozen build "
                          f"centroids no longer describe the corpus; "
                          f"rebuild the index (corpus eindex) instead of "
                          f"appending further", file=sys.stderr)
        else:
            # a time-partitioned table layout (partition dirs like
            # event_date=2024-01-03): size-targeted per-partition rewrite
            # with the staged-swap safety (sinks/partitioned.py) —
            # detected via the Hadoop FS like the index branches above,
            # so remote (s3a://hdfs://) layouts are found too
            from .sinks.partitioned import (compact_time_partitions,
                                            detect_partition_column)
            from .util import recover_directory

            date_col = detect_partition_column(spark, args.index)
            if date_col is None and recover_directory(spark, args.index):
                # a previous compaction crashed mid-swap (live path
                # missing, .bak holding the complete old layout) —
                # restore it so "re-running compaction IS the recovery
                # procedure" holds through the CLI too, not just the
                # Python API
                print(f"# recovered crashed compaction swap at "
                      f"{args.index} from its .bak", file=sys.stderr)
                date_col = detect_partition_column(spark, args.index)
            if date_col is None:
                print(f"error: no MinHash/ANN index or partitioned layout "
                      f"at {args.index}", file=sys.stderr)
                return 2
            st = compact_time_partitions(
                spark, args.index,
                target_rows_per_file=args.max_records_per_file,
                date_col=date_col)
            print(f"compacted {st['partitions']} partitions: "
                  f"{st['files_before']} -> {st['files_after']} files")
            return 0
        for sub, (nb, na) in stats.items():
            print(f"compacted {sub}: {nb} -> {na} files")
        return 0
    if args.corpus_cmd == "esearch":
        from .operators.similarity import (ivf_topk, load_ann_index,
                                           load_ann_index_meta, lsh_topk,
                                           sidecar_n_probe)

        corpus, cents = load_ann_index(spark, args.index)
        queries = _read(spark, args.queries, args.id_col, args.vec_col)
        if args.method in ("ivf", "qivf"):
            n_probe = (args.n_probe if args.n_probe is not None
                       else sidecar_n_probe(spark, args.index, 2))
            tuned = (" (sidecar-tuned)" if args.n_probe is None and
                     load_ann_index_meta(spark, args.index).get("n_probe")
                     is not None else "")
            if args.method == "ivf":
                out = ivf_topk(corpus, queries, k=args.k,
                               id_col=args.id_col, vec_col=args.vec_col,
                               n_probe=n_probe, centroids=cents)
            else:
                from .operators.quantize import ivf_topk_quantized

                if "q" not in corpus.columns:
                    raise ValueError(
                        f"index at {args.index} carries no SQ8 codes — "
                        f"build it with `corpus eindex --quantize` to "
                        f"use --method qivf")
                out = ivf_topk_quantized(
                    corpus, queries, cents, k=args.k, n_probe=n_probe,
                    expand=args.expand, id_col=args.id_col,
                    vec_col=args.vec_col)
            how = f"{args.method} n_probe={n_probe}{tuned}"
        else:
            meta = load_ann_index_meta(spark, args.index)
            out = lsh_topk(corpus, queries, k=args.k, bits=meta["bits"],
                           seed=meta["seed"], id_col=args.id_col,
                           vec_col=args.vec_col,
                           multi_probe=args.multi_probe, dim=meta["dim"])
            how = f"lsh bits={meta['bits']} multi_probe={args.multi_probe}"
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output)
        nq = res.select("query_id").distinct().count()
        print(f"top-{args.k} neighbors for {nq} queries -> {args.output} "
              f"({how})")
        return 0
    if args.corpus_cmd == "partition":
        from .sinks.partitioned import partition_files, write_time_partitioned

        df = _read(spark, args.input, args.ts_col)
        write_time_partitioned(df, args.output, ts_col=args.ts_col,
                               date_col=args.date_col)
        parts = partition_files(spark, args.output)
        print(f"partitioned -> {args.output} ({len(parts)} {args.date_col} "
              f"partitions, {sum(len(v) for v in parts.values())} files)")
        return 0
    if args.corpus_cmd == "lid":
        from .functions.lid import identify_language

        df = _read(spark, args.input, args.text_col)
        out = identify_language(df, text_col=args.text_col)
        out.write.mode("overwrite").parquet(args.output)
        langs = (spark.read.parquet(args.output).groupBy("pred_lang")
                 .count().orderBy("pred_lang").collect())
        dist = ", ".join(f"{r.pred_lang}={r['count']}" for r in langs)
        print(f"labeled -> {args.output} ({dist})")
        return 0
    if args.corpus_cmd == "cluster":
        from .operators import clustering as CL

        df = _read(spark, args.input, args.id_col, args.vec_col)
        if args.mode == "profile":
            _show(CL.cluster_profile(df, args.clusters,
                                     args.id_col, args.vec_col))
            return 0
        if args.output is None:
            print("error: --output required for semdedup/sample",
                  file=sys.stderr)
            return 2
        if args.mode == "semdedup":
            out = CL.semantic_cluster_dedup(df, args.threshold,
                                            args.clusters,
                                            args.id_col, args.vec_col)
            out.write.mode("overwrite").parquet(args.output)
            n_in = df.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} vectors -> {args.output} "
                  f"({n_in - n_out} semantic dups removed at cosine >= "
                  f"{args.threshold} within {args.clusters} clusters)")
            return 0
        out = CL.cluster_balanced_sample(df, args.cap, args.clusters,
                                         args.id_col, args.vec_col)
        out.write.mode("overwrite").parquet(args.output)
        n_in = df.count()
        n_out = spark.read.parquet(args.output).count()
        print(f"sampled {n_out}/{n_in} vectors -> {args.output} "
              f"(cap {args.cap} per cluster, {args.clusters} clusters)")
        return 0
    if args.corpus_cmd == "classify":
        from .operators.classify import (class_priors, nb_classify,
                                         train_naive_bayes)

        docs = _read(spark, args.input, args.id_col, args.text_col)
        train = _read(spark, args.train or args.input, args.id_col,
                      args.text_col, args.label_col)
        model = train_naive_bayes(train, label_col=args.label_col,
                                  id_col=args.id_col,
                                  text_col=args.text_col)
        priors = class_priors(train, label_col=args.label_col)
        pred = nb_classify(docs, model, priors, k=args.k,
                           id_col=args.id_col, text_col=args.text_col)
        pred.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"classified {n} docs -> {args.output} "
              f"(columns: {args.id_col}, pred_label, score; trained on "
              f"{args.label_col})")
        return 0
    if args.corpus_cmd == "mix":
        from .operators.sample import temperature_mix, token_budget_mix

        docs = _read(spark, args.input, args.stratum_col, args.text_col,
                     args.id_col)
        if args.temperature is not None:
            kept = temperature_mix(docs, args.budget,
                                   temperature=args.temperature,
                                   stratum_col=args.stratum_col,
                                   key_col=args.id_col,
                                   text_col=args.text_col)
        else:
            kept = token_budget_mix(docs, _weights(args.weights), args.budget,
                                    stratum_col=args.stratum_col,
                                    key_col=args.id_col,
                                    text_col=args.text_col)
        kept.write.mode("overwrite").parquet(args.output)
        n_in, n_out = docs.count(), spark.read.parquet(args.output).count()
        knob = (f"temperature={args.temperature}"
                if args.temperature is not None else "explicit weights")
        print(f"kept {n_out}/{n_in} docs -> {args.output} "
              f"(token budget {args.budget} per {args.stratum_col}, "
              f"{knob})")
        return 0
    if args.corpus_cmd == "overlap":
        from .operators.sketch import group_overlap_matrix

        df = _read(spark, args.input, args.group_col, args.text_col)
        _show(group_overlap_matrix(df, args.group_col, args.text_col,
                                   n_hashes=args.n_hashes, exact=args.exact))
        return 0
    print(f"error: unknown corpus command {args.corpus_cmd}",
          file=sys.stderr)
    return 2


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)

    # validate + load config BEFORE building a SparkSession: a missing -c
    # or malformed conf.yaml must fail in milliseconds, not after tens of
    # seconds of JVM startup.  Only the corpus subtree (file-based, no
    # config) skips this.
    config = None
    if args.cmd != "corpus":
        if not args.config:
            print("error: -c/--config is required for this command",
                  file=sys.stderr)
            return 2
        from .config import Config

        config = Config.from_file(args.config)

    if spark is None:
        from .session import get_spark

        spark = get_spark("replibyte-spark-cli", cpus=args.cpus)

    # what a command caches or checkpoints is freed when it returns
    from .util import released

    with released():
        try:
            return _run(spark, args, config)
        except (ValueError, LookupError) as exc:
            # a config without the section a command needs, missing input
            # columns (`_read`), an unknown dump, operator-level validation
            # (negative --overlap, mismatched index meta, ...): message to
            # stderr, exit 2 — not a traceback
            print(f"error: {exc}", file=sys.stderr)
            return 2


def _run(spark, args, config) -> int:
    if args.cmd == "corpus":
        return _cmd_corpus(spark, args)

    if args.cmd == "transformer":
        from .introspect import transformer_list

        _show(transformer_list(spark))
        return 0
    if args.cmd == "source":
        from .plans.pipeline import load_source_tables

        if config.source is None:
            raise ValueError("source commands require source config")
        tables = load_source_tables(spark, config.source)
        if getattr(args, "source_cmd", None) == "stats":
            from .introspect import table_stats

            # whitespace-tolerant ('orders, region' means region too) and
            # loud about typos: a silently-ignored unknown name would
            # report stats for a DIFFERENT table set than asked (r12
            # ADVICE)
            wanted = (set(t.strip() for t in args.tables.split(",")
                          if t.strip())
                      if args.tables else set(tables))
            unknown = sorted(wanted - set(tables))
            if unknown:
                print(f"error: unknown table(s): {', '.join(unknown)} "
                      f"(source has: {', '.join(sorted(tables))})",
                      file=sys.stderr)
                return 2
            out = None
            for t in sorted(tables):
                if t not in wanted:
                    continue
                part = table_stats(tables[t], t, approx=args.approx)
                out = part if out is None else out.unionByName(part)
            if out is None:
                print("error: no matching tables", file=sys.stderr)
                return 2
            _show(out.orderBy("table_name", "column_name"))
            return 0
        rows = [(t, f.name, i, f.dataType.simpleString())
                for t in sorted(tables)
                for i, f in enumerate(tables[t].schema.fields)]
        _show(spark.createDataFrame(
            rows, "table_name string, column_name string, ordinal int, "
                  "data_type string"))
        return 0
    # dump subtree
    if config.datastore is None:
        raise ValueError("dump commands require datastore config")
    if args.dump_cmd == "list":
        from .introspect import dump_list

        _show(dump_list(spark, config.datastore.dir))
        return 0
    if args.dump_cmd == "create":
        return _cmd_dump_create(spark, config, args)
    if args.dump_cmd == "restore":
        if args.restore_cmd == "local":
            return _cmd_dump_restore_local(spark, config, args)
        return _cmd_dump_restore_remote(spark, config, args)
    if args.dump_cmd == "delete":
        return _cmd_dump_delete(spark, config, args)
    if args.dump_cmd == "diff":
        from .sinks.datastore import Datastore

        out = Datastore(spark, config.datastore.dir).diff(
            args.dump_a, args.dump_b,
            decrypt_columns=config.datastore.encrypted_columns,
            encryption_key=config.encryption_key)
        _show(out.orderBy("table_name"))
        return 0
    raise AssertionError(f"unhandled command {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
