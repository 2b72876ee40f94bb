"""Materialized retrieval indexes — row-wise IVM over a ChangelogStore.

A standing retrieval service (near-dup dedup, ANN, semantic bucketing)
cannot recompute corpus-wide state per query: MinHash signatures, LSH
bucket tables, and k-means assignments over 100 TB are all PURE
FUNCTIONS of each document row, so they belong in store-backed derived
tables maintained incrementally from the commit log — the row-wise
sibling of streaming/materialize.py's algebraic aggregates. Queries then
join the materialized table instead of re-hashing the corpus.

`materialize_rowwise` is the generic maintainer: follow the commit log,
read ONLY the files the append commits above the floor added, apply a
deterministic row-wise `transform` (changelog rows -> derived rows), and
land the output under `dest/commit_hi=<version>/`. Exactly-once comes
from IDEMPOTENT REPLAY, not an atomic data+state commit: derived batch
directories are named by the commit version they cover, unconfirmed
directories above the applied-version floor are dropped and rewritten on
redelivery, and readers only see directories at-or-below the floor. When
the log cannot serve the delta (`CommitLog.appends_between`: a DML /
retention rewrite, or a compaction that merged away unapplied append
files) the maintainer rebuilds from commit-level time travel — the same
rule the aggregate maintainer applies.

Updates and deletes flow WITHOUT rewrites too: derived rows carry
(height, is_deletion), and `lww_latest` applies the store's
last-write-wins fold at read time — a re-written document's stale
signature loses to its newer one, a tombstoned document drops out.

The k-means split: centroids are NOT row-wise (Lloyd is corpus-global),
so the service freezes a trained model (`similarity.kmeans_centroids`)
and maintains only the per-row ASSIGNMENT incrementally
(`similarity.assign_to_centroids` as the transform) — the standard
train-once / assign-forever serving shape (same as IVF cells).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluxdb_spark.session import spread
from fluxdb_spark.store import ChangelogStore, CommitLog, read_changelog_files
from fluxdb_spark.streaming.follow import stream_commits
from fluxdb_spark.streaming.materialize import (
    _recover,
    _state_path,
    applied_version,
)


DERIVED_FORMAT = 2
"""On-disk layout version of the derived tables this module writes,
stamped into each dest's state file.

2 (round 14): the LSH bucket table is PACKED — one row per vector
version with `tbs array<struct<tbl,bucket>>`, LWW fold key [vec_id].
1 (legacy, pre-stamp): one exploded LSH row per (version, table) with
flat tbl/bucket columns, fold key [vec_id, tbl]. A format-1 LSH dir
read by format-2 code fails on the missing tbs column only at scan
time, and fold-compacting it by [vec_id] alone silently keeps one
arbitrary table's bucket per vector (data loss) — so any stored
format that does not match this constant is refused loudly up front
instead."""


def _stored_format(dest: str) -> int | None:
    """The format stamp in dest's state file: None when the dest has
    no confirmed state yet (fresh dir), 1 when the state predates
    format stamping. An unreadable or corrupt state file raises: read
    as "no state", it would make read_derived return no rows."""
    import json

    path = _state_path(dest)
    try:
        with open(path) as f:
            return int(json.load(f).get("format", 1))
    except FileNotFoundError:
        return None
    except (OSError, ValueError, AttributeError, TypeError) as e:
        raise ValueError(
            f"derived table state {path} is unreadable or corrupt ({e})."
            " Rebuild the index (delete the directory and re-run "
            "refresh / index-retrieval)"
        ) from e


def _check_format(dest: str) -> None:
    got = _stored_format(dest)
    if got is not None and got != DERIVED_FORMAT:
        raise ValueError(
            f"derived table at {dest} was written with on-disk format "
            f"{got}; this code reads and writes format {DERIVED_FORMAT}."
            " Rebuild the index (delete the directory and re-run "
            "refresh / index-retrieval) — reading or fold-compacting "
            "the old layout in place would lose rows silently"
        )


def _confirmed_dirs(dest: str, floor: int) -> list[str]:
    if not os.path.isdir(dest):
        return []
    out = []
    for name in os.listdir(dest):
        if not name.startswith("commit_hi="):
            continue
        try:
            hi = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if hi <= floor:
            out.append(os.path.join(dest, name))
    return out


def read_derived(spark: SparkSession, dest: str) -> DataFrame | None:
    """The current derived relation (None before the first batch):
    exactly the batch directories the applied-version floor confirms —
    a crashed batch's unconfirmed directory is invisible."""
    _recover(dest)
    _check_format(dest)
    dirs = _confirmed_dirs(dest, applied_version(dest))
    if not dirs:
        return None
    return (
        spark.read.option("basePath", dest)
        .parquet(*sorted(dirs))
        .drop("commit_hi")
    )


def lww_fold(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per key, the row of the greatest height — TOMBSTONES KEPT. This
    is the fold-compaction form: a tombstone must survive physical
    folding, because a later (forced, lower-height) append for the same
    key would otherwise become the key's only row and resurrect it."""
    others = [c for c in df.columns if c not in key_cols]
    folded = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col("height")).alias(
            "_r"
        )
    )
    return folded.select(
        *key_cols, *[F.col(f"_r.{c}").alias(c) for c in others]
    )


def lww_latest(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Last-write-wins fold over a derived relation carrying
    (height, is_deletion): per key, the row of the greatest height,
    tombstones dropped — the same fold `state_at` applies to the
    changelog itself, so derived reads see exactly the live corpus."""
    return lww_fold(df, key_cols).filter(~F.col("is_deletion"))


def _rowwise_processor(spark: SparkSession, src_root: str, dest, transform):
    """Build the catch-up shared by BOTH maintenance drivers: the
    continuous streaming maintainer (`materialize_rowwise`, whose commit
    stream is only the trigger) and the one-shot batch catch-up
    (`refresh` / `refresh_many`).  Single code path = the derived
    directories are byte-identical whichever driver ran: applied_version
    floor -> `CommitLog.appends_between` -> delta file read ->
    deterministic transform -> versioned directory write, or a rebuild
    at the log's top when the range cannot be read as a delta.  The
    floor file is the resume point, so a catch-up opens only the commit
    entries above it."""
    # refuse to append format-N rows into a dest built by a different
    # layout generation — the caller must rebuild instead
    _check_format(dest)
    log = CommitLog(src_root)

    def _commit(df: DataFrame, version: int, floor: int) -> None:
        # drop unconfirmed leftovers of a crashed batch, then land the
        # new directory and advance the floor; a crash between the two
        # steps replays idempotently (the directory is keyed by version
        # and rewritten from the same deterministic inputs)
        for name in os.listdir(dest) if os.path.isdir(dest) else []:
            if not name.startswith("commit_hi="):
                continue
            try:
                hi = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if hi > floor:
                shutil.rmtree(os.path.join(dest, name), ignore_errors=True)
        df.write.mode("overwrite").parquet(
            os.path.join(dest, f"commit_hi={version}")
        )
        import json

        tmp = _state_path(dest) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"applied_version": version, "format": DERIVED_FORMAT}, f
            )
        os.replace(tmp, _state_path(dest))

    def _rebuild(top: int) -> None:
        # the delta's source bytes are gone (rewritten history, or append
        # files a compaction merged away): rebuild from commit-level time
        # travel into a staged directory and swap atomically (readers see
        # the old index or the new one, never a half-rebuilt mixture;
        # _recover heals a torn swap)
        import json
        import uuid

        store = ChangelogStore(spark, src_root)
        full = transform(store.changelog(at_version=top))
        tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
        full.write.mode("overwrite").parquet(
            os.path.join(tmp, f"commit_hi={top}")
        )
        with open(_state_path(tmp), "w") as f:
            json.dump({"applied_version": top, "format": DERIVED_FORMAT}, f)
        old = f"{dest}.old-{uuid.uuid4().hex}"
        if os.path.isdir(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        shutil.rmtree(old, ignore_errors=True)

    def catch_up() -> None:
        floor = applied_version(dest)
        top = log.latest_version()
        if top <= floor:
            return
        delta = log.appends_between(floor, top)
        if delta is None:
            _rebuild(top)
            return
        _top, files = delta
        if not files:
            return  # only compactions of already-applied files
        rows = read_changelog_files(spark, src_root, files)
        # a small delta arrives as few splits and would run the
        # (map-heavy: signatures, bucket hashes) transform on as few
        # tasks; spread() fans it across the cores and is a no-op once
        # the delta already has enough splits
        _commit(transform(spread(rows)), top, floor)

    return catch_up


def materialize_rowwise(
    spark: SparkSession,
    src_root: str,
    dest: str,
    transform,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
):
    """Start the maintenance stream: follow `src_root`'s commit log and
    apply `transform` (DataFrame over CHANGELOG_SCHEMA -> derived rows;
    deterministic, row-wise) to each newly committed append batch,
    landing the output under `dest/commit_hi=<version>/`. Returns the
    StreamingQuery.

    Scale shape per refresh: the delta read touches only the new
    commits' files (O(delta)); the transform is map-only for every
    shipped index (signatures, buckets, centroid assignment), so no
    shuffle at all; the corpus is never re-read except on a rebuild."""
    catch_up = _rowwise_processor(spark, src_root, dest, transform)
    return (
        stream_commits(spark, src_root)
        .writeStream.foreachBatch(lambda _df, _batch_id: catch_up())
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


# --- the shipped retrieval transforms --------------------------------------


def doc_relation(rows: DataFrame, id_type: str = "long") -> DataFrame:
    """Changelog rows -> (doc_id, height, is_deletion, text): the view of
    a store whose primary_key is the document id and value the text."""
    return rows.select(
        F.col("primary_key").cast(id_type).alias("doc_id"),
        "height",
        "is_deletion",
        F.col("value").alias("text"),
    )


def vector_relation(rows: DataFrame, id_type: str = "long") -> DataFrame:
    """Changelog rows -> (vec_id, height, is_deletion, embedding): the
    view of a store whose value is a JSON-encoded double vector (exact:
    float->double widening and Jackson's round-trippable doubles make the
    JSON round trip bit-identical)."""
    return rows.select(
        F.col("primary_key").cast(id_type).alias("vec_id"),
        "height",
        "is_deletion",
        F.from_json(F.col("value"), "array<double>").alias("embedding"),
    )


def minhash_transform(k: int | None = None):
    """Transform factory: changelog document rows -> MinHash signature
    rows (doc_id, height, is_deletion, sig0..sig{k-1}). Map-only."""
    from fluxdb_spark.functions.dedup import (
        MINHASH_K,
        _signatures_from_arrays,
        word_shingles,
    )

    k = MINHASH_K if k is None else k

    def transform(rows: DataFrame) -> DataFrame:
        # the row identity rides through the signature computation as a
        # struct id (no join-back: a doc updated twice in one batch must
        # pair each height with ITS OWN signature)
        with_sh = doc_relation(rows).select(
            F.struct("doc_id", "height", "is_deletion").alias("rid"),
            word_shingles(F.col("text")).alias("shingles"),
        )
        sigs = _signatures_from_arrays(with_sh, k, "rid")
        return sigs.select(
            F.col("rid.doc_id").alias("doc_id"),
            F.col("rid.height").alias("height"),
            F.col("rid.is_deletion").alias("is_deletion"),
            *[f"sig{i}" for i in range(k)],
        )

    return transform


def lsh_bucket_transform(
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
):
    """Transform factory: changelog vector rows -> PACKED LSH bucket rows
    (vec_id, height, is_deletion, embedding, tbs array<struct<tbl,
    bucket>>) — ONE row per vector version, not one per (version,
    table): the 64-float embedding is written to the derived parquet
    and shipped through the lww fold once instead of n_tables times
    (guide §2.3/§6 — the exploded form was 4x write amplification on
    the index's dominant column for pure layout preference; readers
    explode AFTER the fold via `lsh_live_buckets`). The seeded
    hyperplanes are plan literals, identical to `lsh_topk`'s, so a query
    bucketing its probe vector the same way collides with exactly the
    candidates the recompute form finds. Map-only."""
    from fluxdb_spark.functions.similarity import _hyperplanes, _lsh_buckets

    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def transform(rows: DataFrame) -> DataFrame:
        v = vector_relation(rows)
        return v.select(
            "vec_id",
            "height",
            "is_deletion",
            "embedding",
            _lsh_buckets(F.col("embedding"), tables).alias("tbs"),
        )

    return transform


def lsh_live_buckets(derived: DataFrame) -> DataFrame:
    """Live (vec_id, embedding, tbl, bucket) relation from the packed
    bucket table: lww fold per vec_id (embedding and buckets ride in one
    row, so the fold's max_by exchange carries each vector once), then a
    per-row explode — exactly the relation `lsh_topk_from_buckets`
    equi-joins on. Explode-after-fold commutes with the old
    fold-per-(vec_id, tbl): every bucket row of a version shares that
    version's height and deletion flag."""
    live = lww_latest(derived, ["vec_id"])
    return live.select(
        "vec_id", "embedding", F.explode("tbs").alias("tb")
    ).select("vec_id", "embedding", "tb.tbl", "tb.bucket")


def centroid_assign_transform(
    cents: list[list[int]], scale: int = 1_000_000
):
    """Transform factory: changelog vector rows -> frozen-centroid
    assignments (vec_id, height, is_deletion, cluster, dist, embedding).
    Map-only; `cents` comes from `similarity.kmeans_centroids` trained on
    the store's corpus at materialization time. The vector rides along so
    the table doubles as the IVF INVERTED FILE: a query probes its
    nearest cells and re-ranks the cell members' embeddings without ever
    touching the source corpus (`similarity.ivf_topk_from_assignments`)."""
    from fluxdb_spark.functions.similarity import assign_to_centroids

    def transform(rows: DataFrame) -> DataFrame:
        v = vector_relation(rows).select(
            F.struct(
                "vec_id", "height", "is_deletion", "embedding"
            ).alias("rid"),
            "embedding",
        )
        assigned = assign_to_centroids(v, cents, scale=scale, id_col="rid")
        return assigned.select(
            F.col("rid.vec_id").alias("vec_id"),
            F.col("rid.height").alias("height"),
            F.col("rid.is_deletion").alias("is_deletion"),
            "cluster",
            "dist",
            F.col("rid.embedding").alias("embedding"),
        )

    return transform


def pq_codes_transform(
    books: list[list[list[int]]], dim: int = 64, scale: int = 1_000_000
):
    """Transform factory: changelog vector rows -> frozen-codebook PQ
    codes (vec_id, height, is_deletion, codes). Map-only; `books` comes
    from `similarity.pq_codebooks` trained on the store's corpus at
    materialization time (train-once / encode-forever, like the centroid
    model). The derived table is the m-ids-per-vector compressed corpus
    `similarity.pq_topk_from_codes` scans at query time — 64x fewer
    bytes than the float vectors it stands in for."""
    from fluxdb_spark.functions.similarity import pq_encode

    def transform(rows: DataFrame) -> DataFrame:
        v = vector_relation(rows).select(
            F.struct("vec_id", "height", "is_deletion").alias("rid"),
            "embedding",
        )
        codes = pq_encode(v, books, dim=dim, scale=scale, id_col="rid")
        return codes.select(
            F.col("rid.vec_id").alias("vec_id"),
            F.col("rid.height").alias("height"),
            F.col("rid.is_deletion").alias("is_deletion"),
            "codes",
        )

    return transform


def span_hash_transform(width: int | None = None):
    """Transform factory: changelog document rows -> POSITIONAL shingle
    hash rows (doc_id, height, is_deletion, pos, h) — the standing
    shingle index behind the serving-side contamination screen
    (RetrievalService.spans: does an unseen text verbatim-overlap the
    corpus?). Map-only fan-out of ~n_tokens rows per doc, the posting-
    table shape (bm25_postings_transform precedent); tombstones carry no
    text and explode to nothing — liveness resolves at read time via the
    per-doc latest height, exactly like the postings read."""
    from fluxdb_spark.functions.dedup import SPAN_WIDTH, positional_shingles
    from fluxdb_spark.functions.hashing import hash60

    width = SPAN_WIDTH if width is None else width

    def transform(rows: DataFrame) -> DataFrame:
        d = doc_relation(rows)
        # posexplode_OUTER: a tombstone (null text) or a doc shorter than
        # the shingle width explodes to a single null-pos marker row, so
        # every (doc, height) version lands in the table and the read-time
        # latest-height join cannot resurrect an older, longer version.
        return d.select(
            "doc_id",
            "height",
            "is_deletion",
            F.posexplode_outer(
                positional_shingles(F.col("text"), width)
            ).alias("pos0", "shingle"),
        ).select(
            "doc_id",
            "height",
            "is_deletion",
            (F.col("pos0") + 1).alias("pos"),
            hash60(F.col("shingle")).alias("h"),
        )

    return transform



def pq_books_path(dest: str) -> str:
    """Frozen PQ codebook location — a SIBLING of the derived table for
    the same reason as `centroids_path`: rebuild-on-rewrite and
    compaction replace the dest directory wholesale, and a model stored
    inside would silently vanish, splitting the table across two
    trainings."""
    return dest.rstrip("/") + "._pq_books.json"


def load_pq_books(dest: str) -> list | None:
    """Read the frozen codebooks (None if never trained)."""
    import json

    path = pq_books_path(dest)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def save_pq_books(dest: str, books: list) -> None:
    """Persist freshly trained codebooks (atomic replace)."""
    import json

    path = pq_books_path(dest)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(books, f)
    os.replace(tmp, path)


def bpe_merges_path(dest: str) -> str:
    """Frozen BPE merge-list location — a sibling of the derived table
    (same swap-survival reasoning as `centroids_path`/`pq_books_path`):
    the tokenizer is trained ONCE on the corpus and must outlive
    rebuild-on-rewrite and compaction, or two halves of the encoded
    table would disagree on the vocabulary."""
    return dest.rstrip("/") + "._bpe_merges.json"


def load_bpe_merges(dest: str) -> list | None:
    import json

    path = bpe_merges_path(dest)
    if not os.path.exists(path):
        return None
    return [tuple(m) for m in json.load(open(path))]


def save_bpe_merges(dest: str, merges: list) -> None:
    import json

    path = bpe_merges_path(dest)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump([list(m) for m in merges], f)
    os.replace(tmp, path)


def bpe_encode_transform(merges: list):
    """Transform factory: changelog document rows -> encoded rows
    (doc_id, height, is_deletion, n_tokens, tokens) under a FROZEN merge
    list (train-once / encode-forever, like the centroid and PQ models).
    Map-only: the merges fold into a chain of builtin replace
    expressions — new documents tokenize at scan speed with no
    vocabulary join, and the standing table is the pre-tokenized corpus
    a training run reads instead of re-tokenizing 100 TB per epoch."""
    from fluxdb_spark.functions.bpe import WORD_RE, apply_merges

    def transform(rows: DataFrame) -> DataFrame:
        d = doc_relation(rows)
        words = F.filter(
            F.split(F.lower(F.col("text")), " "),
            lambda w: w.rlike(WORD_RE),
        )
        toks = F.flatten(
            F.transform(words, lambda w: apply_merges(w, merges))
        )
        return d.select(
            "doc_id",
            "height",
            "is_deletion",
            F.size(toks).cast("long").alias("n_tokens"),
            F.array_join(toks, " ").alias("tokens"),
        )

    return transform


def quantize_transform():
    """Transform factory: changelog vector rows -> int8-quantized rows
    (vec_id, height, is_deletion, q8, scale_e9). Map-only. The derived
    table IS the 4x-compressed storage form a 100 TB vector corpus
    ships — and because quantization is integer-exact, queries over it
    (`similarity.quantized_topk_from_table`) reproduce the recompute
    form bit-for-bit."""
    from fluxdb_spark.functions.similarity import quantize_embeddings

    def transform(rows: DataFrame) -> DataFrame:
        v = vector_relation(rows).select(
            F.struct("vec_id", "height", "is_deletion").alias("rid"),
            "embedding",
        )
        qz = quantize_embeddings(v, id_col="rid")
        return qz.select(
            F.col("rid.vec_id").alias("vec_id"),
            F.col("rid.height").alias("height"),
            F.col("rid.is_deletion").alias("is_deletion"),
            "q8",
            "scale_e9",
        )

    return transform


def binarize_transform(dim: int = 64):
    """Transform factory: changelog vector rows -> packed sign-bit rows
    (vec_id, height, is_deletion, b0, b1). Map-only. The derived table is
    the 1-bit candidate-scan form (2 BIGINTs per 64-dim vector, 16-32x
    smaller than floats) `similarity.binary_topk_from_tables` Hamming-
    scans; the int8 table (quantize_transform) remains the rerank side —
    the two standing indexes compose."""
    from fluxdb_spark.functions.similarity import binarize_embeddings

    def transform(rows: DataFrame) -> DataFrame:
        v = vector_relation(rows).select(
            F.struct("vec_id", "height", "is_deletion").alias("rid"),
            "embedding",
        )
        bz = binarize_embeddings(v, id_col="rid", dim=dim)
        word_cols = [c for c in bz.columns if c.startswith("b")]
        return bz.select(
            F.col("rid.vec_id").alias("vec_id"),
            F.col("rid.height").alias("height"),
            F.col("rid.is_deletion").alias("is_deletion"),
            *word_cols,
        )

    return transform


def bm25_doclen_transform():
    """Transform factory: changelog document rows -> one (doc_id, height,
    is_deletion, dl) row per version. Map-only. The doclen table is the
    LIVE-VERSION picker for the postings table (multi-row per version, so
    per-posting LWW would resurrect edited-away terms) and the input to
    the cached (n_docs, tot_dl) corpus stats."""
    from fluxdb_spark.functions.text import tokens

    def transform(rows: DataFrame) -> DataFrame:
        d = doc_relation(rows)
        toks = tokens(F.lower(F.col("text")))
        return d.select(
            "doc_id",
            "height",
            "is_deletion",
            F.greatest(F.size(toks), F.lit(0)).alias("dl"),
        )

    return transform


def bm25_postings_transform():
    """Transform factory: changelog document rows -> BM25 posting rows
    (doc_id, height, is_deletion, dl, term, tf). The per-batch groupBy
    shuffles only the delta's tokens (O(delta), map-side combined);
    tombstones carry no text, explode to nothing, and are dropped at
    read time by the doclen live-height join instead."""
    from fluxdb_spark.functions.text import tokens

    def transform(rows: DataFrame) -> DataFrame:
        d = doc_relation(rows)
        toks = tokens(F.lower(F.col("text")))
        return (
            d.select(
                "doc_id",
                "height",
                "is_deletion",
                F.size(toks).alias("dl"),
                F.explode(toks).alias("term"),
            )
            .groupBy("doc_id", "height", "is_deletion", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    return transform


def bm25_stats_path(doclen_dest: str) -> str:
    """Cached (n_docs, tot_dl) corpus statistics — a SIBLING of the
    doclen table (same reasoning as centroids_path: dest-directory swaps
    must not drop it)."""
    return doclen_dest.rstrip("/") + "._stats.json"


def load_bm25_stats(doclen_dest: str) -> tuple[int, int] | None:
    """The cached stats, or None if never refreshed. Returns
    (n_docs, tot_dl)."""
    import json

    try:
        with open(bm25_stats_path(doclen_dest)) as f:
            d = json.load(f)
        return int(d["n_docs"]), int(d["tot_dl"])
    except (OSError, KeyError, ValueError):
        return None


def bm25_refresh(
    spark: SparkSession,
    src_root: str,
    postings_dest: str,
    doclen_dest: str,
    checkpoint_root: str,
) -> tuple[int, int]:
    """Catch both BM25 tables up with the commit log, then recompute and
    cache the corpus stats (df-denominator N and avgdl numerator) so
    standing queries pay O(1) for them. The stats fold is algebraic
    (count + sum over the live doclen fold) and costs O(#docs) over a
    2-column table ONCE PER REFRESH — never per query, never O(corpus
    text). Returns (n_docs, tot_dl)."""
    import json

    del checkpoint_root  # the floor files, not stream offsets, dedup work
    _, doclen = refresh_many(
        spark,
        src_root,
        [
            (postings_dest, bm25_postings_transform()),
            (doclen_dest, bm25_doclen_transform()),
        ],
    )
    if doclen is None:
        n_docs, tot = 0, 0
    else:
        live = lww_latest(doclen, ["doc_id"])
        row = live.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.greatest(F.col("dl"), F.lit(0))).cast("long").alias("t"),
        ).collect()[0]
        n_docs, tot = int(row.n), int(row.t or 0)
    path = bm25_stats_path(doclen_dest)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "n_docs": n_docs,
                "tot_dl": tot,
                "applied_version": applied_version(doclen_dest),
            },
            f,
        )
    os.replace(tmp, path)
    return n_docs, tot


def centroids_path(dest: str) -> str:
    """Frozen-centroid model location: a SIBLING of the derived table
    (`<dest>._centroids.json`), never inside it — rebuild-on-rewrite and
    compact_derived replace the entire dest directory via staged swap,
    and a model stored inside would be silently lost; the next run would
    retrain a second model and assign only new batches to it, mixing
    assignments from two models (breaking train-once/assign-forever).
    The sibling name shares the `<dest>.` prefix _recover scans but is
    not an `.old-`/`.tmp-` directory, so recovery never touches it."""
    return dest.rstrip("/") + "._centroids.json"


def load_centroid_model(dest: str) -> dict | None:
    """Read the frozen model sidecar (None if never trained):
    {"centroids": [...], "baseline_mean_dist": float|None, plus drift
    fields written by centroid_drift}. A legacy bare-list file (or a
    legacy in-directory `_centroids.json`, lost on the next swap) is
    migrated to the dict form at the sibling path on sight."""
    import json

    path = centroids_path(dest)
    model = None
    if os.path.exists(path):
        with open(path) as f:
            model = json.load(f)
    else:
        legacy = os.path.join(dest, "_centroids.json")
        if os.path.exists(legacy):
            with open(legacy) as f:
                model = json.load(f)
            try:
                os.remove(legacy)
            except OSError:
                pass
    if model is None:
        return None
    if isinstance(model, list):
        model = {"centroids": model, "baseline_mean_dist": None}
        _write_centroid_model(dest, model)
    return model


def load_centroids(dest: str) -> list | None:
    """The frozen centroids alone (None if never trained)."""
    model = load_centroid_model(dest)
    return None if model is None else model["centroids"]


def save_centroids(
    dest: str, cents: list, baseline_mean_dist: float | None = None
) -> None:
    """Persist a freshly trained model. `baseline_mean_dist` is the mean
    assignment distance over the TRAINING corpus — the yardstick
    centroid_drift compares later delta batches against."""
    _write_centroid_model(
        dest,
        {"centroids": cents, "baseline_mean_dist": baseline_mean_dist},
    )


def _write_centroid_model(dest: str, model: dict) -> None:
    import json

    path = centroids_path(dest)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(model, f)
    os.replace(tmp, path)


def centroid_drift(
    spark: SparkSession,
    dest: str,
    floor_before: int,
    threshold: float = 1.5,
) -> dict | None:
    """Drift check for the train-once/assign-forever model: mean
    assignment distance over ONLY the batches committed after
    `floor_before` (O(delta) — the standing service never re-scans the
    assignment table), flagged when it exceeds the trained baseline by
    `threshold`x. Without this a frozen model silently decays as the
    corpus distribution moves. The result is persisted into the model
    sidecar (surfaced by RetrievalService.metrics / the serving
    /metrics endpoint); retraining stays an OPERATOR decision — the
    flag never mutates the model. Returns None when no new batches
    landed or the model was never trained."""
    model = load_centroid_model(dest)
    if model is None:
        return None
    floor_now = applied_version(dest)
    dirs = [
        d
        for d in _confirmed_dirs(dest, floor_now)
        if int(os.path.basename(d).split("=", 1)[1]) > floor_before
    ]
    if not dirs:
        return None
    delta = (
        spark.read.option("basePath", dest)
        .parquet(*sorted(dirs))
        .filter(~F.col("is_deletion"))
    )
    row = delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dist").alias("mean_dist"),
    ).collect()[0]
    if row.n == 0:
        return None
    baseline = model.get("baseline_mean_dist")
    flagged = baseline is not None and row.mean_dist > threshold * baseline
    model.update(
        {
            "last_delta_rows": int(row.n),
            "last_delta_mean_dist": float(row.mean_dist),
            "drift_flagged": bool(flagged),
            "drift_threshold": threshold,
        }
    )
    _write_centroid_model(dest, model)
    return {
        "delta_rows": int(row.n),
        "delta_mean_dist": float(row.mean_dist),
        "baseline_mean_dist": baseline,
        "drift_flagged": bool(flagged),
    }


def compact_derived(
    spark: SparkSession, dest: str, fold_keys: list[str] | None = None
) -> int:
    """Coalesce the derived table's batch directories into ONE directory
    at the current floor — the OPTIMIZE pass for a long-running
    maintainer, whose per-commit directories otherwise accumulate until
    the read-side file listing dominates (the same small-file economics
    ChangelogStore.compact exists for). Same staged-swap discipline as
    the rebuild path: readers see the old directory set or the single
    new one, never a mixture; a torn swap heals via _recover. Run it
    from maintenance, not concurrently with the maintainer (the swap
    assumes one writer owns dest). Returns the number of directories
    coalesced away.

    With `fold_keys`, compaction also FOLDS: superseded versions are
    physically dropped so the table holds one row per key (`lww_fold` —
    tombstones kept against resurrection by late lower-height appends).
    This is what keeps a standing service's read-time LWW fold O(delta
    since last compaction) instead of O(every version ever written):
    queries still apply lww_latest, but on a fully folded prefix it is
    a no-op-sized aggregation. Idempotent under the read fold —
    lww_latest(folded) == lww_latest(raw) by construction."""
    import json
    import uuid

    _recover(dest)
    _check_format(dest)
    floor = applied_version(dest)
    dirs = _confirmed_dirs(dest, floor)
    if len(dirs) <= 1:
        return 0
    current = (
        spark.read.option("basePath", dest)
        .parquet(*sorted(dirs))
        .drop("commit_hi")
    )
    if fold_keys is not None:
        current = lww_fold(current, fold_keys)
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    current.write.mode("overwrite").parquet(
        os.path.join(tmp, f"commit_hi={floor}")
    )
    with open(_state_path(tmp), "w") as f:
        json.dump({"applied_version": floor, "format": DERIVED_FORMAT}, f)
    old = f"{dest}.old-{uuid.uuid4().hex}"
    os.rename(dest, old)
    os.rename(tmp, dest)
    shutil.rmtree(old, ignore_errors=True)
    return len(dirs) - 1


class RetrievalService:
    """Read facade over the materialized retrieval tables, for the
    serving endpoint (streaming/serve.py): ANN top-k through the LSH
    bucket table and BM25 through the postings/doclen tables. Every
    query reads standing state — the maintainer (or `index-retrieval`
    runs) keeps the tables fresh; the service never re-hashes a corpus.

    The reference serves ALL reads through its server facade
    (fluxdb.go:104-154); this is the retrieval-index half of that
    surface, beside QueryServer's temporal routes."""

    def __init__(
        self,
        spark: SparkSession,
        ann_dest: str | None = None,
        ann_n_planes: int = 4,
        ann_n_tables: int = 4,
        ann_dim: int = 64,
        ann_seed: int = 42,
        bm25_postings_dest: str | None = None,
        bm25_doclen_dest: str | None = None,
        kmeans_dest: str | None = None,
        minhash_dest: str | None = None,
        quantize_dest: str | None = None,
        pq_dest: str | None = None,
        pq_dim: int = 64,
        binary_dest: str | None = None,
        bpe_dest: str | None = None,
        spans_dest: str | None = None,
    ):
        self.spark = spark
        self.ann_dest = ann_dest
        self.ann_params = {
            "n_planes": ann_n_planes,
            "n_tables": ann_n_tables,
            "dim": ann_dim,
            "seed": ann_seed,
        }
        self.bm25_postings_dest = bm25_postings_dest
        self.bm25_doclen_dest = bm25_doclen_dest
        self.kmeans_dest = kmeans_dest
        self.minhash_dest = minhash_dest
        self.quantize_dest = quantize_dest
        self.pq_dest = pq_dest
        self.pq_dim = pq_dim
        self.binary_dest = binary_dest
        self.bpe_dest = bpe_dest
        self.spans_dest = spans_dest

    def metrics(self) -> dict:
        """Retrieval-index gauges for a /metrics snapshot — notably the
        centroid-drift flag, so a standing service's model decay is
        visible to scraping, not just to CLI logs."""
        out: dict = {}
        if self.kmeans_dest is not None:
            model = load_centroid_model(self.kmeans_dest) or {}
            out["fluxdb_centroid_drift_flagged"] = int(
                bool(model.get("drift_flagged"))
            )
            if model.get("baseline_mean_dist") is not None:
                out["fluxdb_centroid_baseline_mean_dist"] = model[
                    "baseline_mean_dist"
                ]
            if model.get("last_delta_mean_dist") is not None:
                out["fluxdb_centroid_last_delta_mean_dist"] = model[
                    "last_delta_mean_dist"
                ]
        if self.bm25_doclen_dest is not None:
            stats = load_bm25_stats(self.bm25_doclen_dest)
            if stats is not None:
                out["fluxdb_bm25_live_docs"] = stats[0]
                out["fluxdb_bm25_total_tokens"] = stats[1]
        return out

    def ann_topk(self, vector: list[float], k: int = 10) -> DataFrame:
        """Approximate top-k neighbors of `vector` from the materialized
        bucket table: the probe is hashed with the index's own seeded
        hyperplanes, so it collides with exactly the candidates the
        maintainer bucketed — per query, a bucket equi-join over the
        standing table, no corpus pass."""
        if self.ann_dest is None:
            raise ValueError("no ANN index configured")
        from fluxdb_spark.functions.similarity import lsh_topk_from_buckets

        derived = read_derived(self.spark, self.ann_dest)
        if derived is None:
            raise ValueError("ANN index is empty — run index-retrieval")
        buckets = lsh_live_buckets(derived)
        probe = self.spark.createDataFrame(
            [(-1, [float(x) for x in vector])],
            "vec_id long, embedding array<double>",
        )
        return lsh_topk_from_buckets(
            buckets, probe, k=k, **self.ann_params
        ).drop("query_id")

    def bm25(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 top-k over the materialized postings, with the corpus
        stats cached at the last refresh — O(term-matched postings) per
        query."""
        if self.bm25_postings_dest is None or self.bm25_doclen_dest is None:
            raise ValueError("no BM25 index configured")
        from fluxdb_spark.functions.text import bm25_from_postings

        postings = read_derived(self.spark, self.bm25_postings_dest)
        doclen = read_derived(self.spark, self.bm25_doclen_dest)
        if postings is None or doclen is None:
            raise ValueError("BM25 index is empty — run index-retrieval")
        return bm25_from_postings(
            postings,
            doclen,
            terms,
            k,
            stats=load_bm25_stats(self.bm25_doclen_dest),
        )

    def ivf_topk(
        self, vector: list[float], k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """Approximate top-k neighbors through the IVF path: the probe is
        assigned to its `n_probe` nearest frozen centroids (the model
        sidecar), and only those cells' rows of the materialized
        assignment table are re-ranked by exact cosine — the
        cluster-filtered read is the standing-service twin of
        `similarity.ivf_topk`'s corpus pass. n_probe trades recall for
        read volume; n_probe = n_centroids is exhaustive."""
        if self.kmeans_dest is None:
            raise ValueError("no kmeans index configured")
        from fluxdb_spark.functions.similarity import (
            ivf_topk_from_assignments,
        )

        model = load_centroid_model(self.kmeans_dest)
        if model is None:
            raise ValueError(
                "kmeans index has no trained model — run index-retrieval"
            )
        derived = read_derived(self.spark, self.kmeans_dest)
        if derived is None:
            raise ValueError("kmeans index is empty — run index-retrieval")
        if "embedding" not in derived.columns:
            raise ValueError(
                "kmeans index predates embedding-carrying assignments — "
                "rebuild it (index-retrieval --kind kmeans on a fresh dest)"
            )
        asg = lww_latest(derived, ["vec_id"])
        probe = self.spark.createDataFrame(
            [(-1, [float(x) for x in vector])],
            "vec_id long, embedding array<double>",
        )
        return ivf_topk_from_assignments(
            asg, model["centroids"], probe, k=k, n_probe=n_probe
        ).drop("query_id")

    def neardup(
        self, text: str, threshold: float = 0.0, k: int = 10
    ) -> DataFrame:
        """Near-dup membership probe: is `text` a near-duplicate of
        anything already in the corpus? The probe is MinHashed with the
        index's own signature pipeline (one-row relation through the
        SAME expressions the maintainer runs), band-joined against the
        standing signature table, and scored with the MinHash Jaccard
        estimate — the admission check an ingestion pipeline runs BEFORE
        adding a document. Top-k by estimate, `threshold` floors it."""
        if self.minhash_dest is None:
            raise ValueError("no minhash index configured")
        from fluxdb_spark.functions.dedup import (
            minhash_probe_candidates,
            minhash_signatures,
        )

        derived = read_derived(self.spark, self.minhash_dest)
        if derived is None:
            raise ValueError("minhash index is empty — run index-retrieval")
        sigs = lww_latest(derived, ["doc_id"])
        probe = minhash_signatures(
            self.spark.createDataFrame(
                [(-1, str(text))], "doc_id long, text string"
            )
        )
        out = (
            minhash_probe_candidates(sigs, probe)
            .filter(F.col("est_jaccard") >= float(threshold))
            .drop("probe_id")
        )
        return out.orderBy(
            F.desc("est_jaccard"), F.asc("doc_id")
        ).limit(k)

    def quantized_topk(self, vec_id: int, k: int = 10) -> DataFrame:
        """Exact top-k by-id over the STANDING int8 table: both the
        probe's q8 and every candidate's come from the same materialized
        table (the 4x-compressed storage form), so a query reads 1/4 the
        bytes of the float corpus and — because int8 cosine is
        scale-invariant integer arithmetic — the ranking is
        bit-deterministic. By-id is the serving shape for "more like this
        stored item"; an unseen vector goes through ann/ivf instead."""
        if self.quantize_dest is None:
            raise ValueError("no quantize index configured")
        from fluxdb_spark.functions.similarity import (
            quantized_topk_from_table,
        )

        derived = read_derived(self.spark, self.quantize_dest)
        if derived is None:
            raise ValueError(
                "quantize index is empty — run index-retrieval"
            )
        qz = lww_latest(derived, ["vec_id"]).select(
            "vec_id", "q8", "scale_e9"
        )
        probe = self.spark.createDataFrame(
            [(int(vec_id),)], "vec_id long"
        )
        return quantized_topk_from_table(qz, probe, k=k)

    def binary_topk(
        self, vec_id: int, k: int = 10, rerank: int = 40
    ) -> DataFrame:
        """Two-stage by-id top-k over the STANDING compressed tables: a
        Hamming XOR+popcount scan of the packed sign-bit table (2
        BIGINTs/row) bounds the candidates, the int8 table re-ranks them
        with exact integer cosine — the cheapest standing candidate scan
        the service offers, and still bit-deterministic. Requires both
        the binary and quantize indexes (they compose)."""
        if self.binary_dest is None:
            raise ValueError("no binary index configured")
        if self.quantize_dest is None:
            raise ValueError(
                "binary rerank needs the quantize index too"
            )
        from fluxdb_spark.functions.similarity import (
            binary_topk_from_tables,
        )

        bderived = read_derived(self.spark, self.binary_dest)
        qderived = read_derived(self.spark, self.quantize_dest)
        if bderived is None or qderived is None:
            raise ValueError(
                "binary/quantize index is empty — run index-retrieval"
            )
        word_cols = sorted(
            (c for c in bderived.columns if c[0] == "b" and c[1:].isdigit()),
            key=lambda c: int(c[1:]),
        )
        bz = lww_latest(bderived, ["vec_id"]).select("vec_id", *word_cols)
        qz = lww_latest(qderived, ["vec_id"]).select("vec_id", "q8")
        probe = self.spark.createDataFrame(
            [(int(vec_id),)], "vec_id long"
        )
        return binary_topk_from_tables(
            bz, qz, probe, k=k, rerank=rerank, dim=32 * len(word_cols)
        )

    def spans(self, text: str, width: int | None = None) -> DataFrame:
        """Contamination screen: which token RANGES of `text` appear
        verbatim anywhere in the standing corpus? The probe is shingled
        through the SAME expressions the maintainer runs (one-row
        relation), its shingle hashes semi-join the live rows of the
        standing span index, and matched positions merge into maximal
        spans (dedup.merge_spans) — the eval-set decontamination check
        run at SERVING time, before a document (or benchmark question)
        is admitted. Per probe the cost is |probe shingles| lookups
        against the index, never a corpus pass."""
        if self.spans_dest is None:
            raise ValueError("no span index configured")
        from fluxdb_spark.functions.dedup import (
            SPAN_WIDTH,
            merge_spans,
            positional_shingles,
        )
        from fluxdb_spark.functions.hashing import hash60

        width = SPAN_WIDTH if width is None else width
        derived = read_derived(self.spark, self.spans_dest)
        if derived is None:
            raise ValueError("span index is empty — run index-retrieval")
        # lww_latest drops tombstoned docs; the null-marker rows of the
        # outer explode guarantee every (doc, height) version is present
        live_h = lww_latest(
            derived.select("doc_id", "height", "is_deletion").distinct(),
            ["doc_id"],
        ).select("doc_id", "height")
        corpus_h = (
            derived.join(live_h, ["doc_id", "height"])
            .filter(F.col("h").isNotNull())
            .select("h")
        )
        probe = self.spark.createDataFrame(
            [(0, text)], "probe_id long, text string"
        )
        occ = (
            probe.select(
                "probe_id",
                F.posexplode(
                    positional_shingles(F.col("text"), width)
                ).alias("pos0", "shingle"),
            )
            .select(
                "probe_id",
                (F.col("pos0") + 1).alias("pos"),
                hash60(F.col("shingle")).alias("h"),
            )
            .join(corpus_h.distinct(), "h", "left_semi")
        )
        return merge_spans(occ, width, "probe_id").drop("probe_id")

    def tokenize(self, text: str) -> DataFrame:
        """Encode ad-hoc text with the FROZEN tokenizer (the merge-list
        sidecar beside the standing encoded corpus): one-row relation
        through the same map-only replace chain the maintainer runs, so
        a serving-time probe tokenizes exactly like the stored corpus —
        the consistency a retrieval/training stack needs between
        ingestion-time and query-time tokenization."""
        if self.bpe_dest is None:
            raise ValueError("no BPE index configured")
        from fluxdb_spark.functions.bpe import encode_documents

        merges = load_bpe_merges(self.bpe_dest)
        if merges is None:
            raise ValueError(
                "BPE index has no trained merges — run index-retrieval"
            )
        probe = self.spark.createDataFrame(
            [(0, str(text))], "doc_id long, text string"
        )
        return encode_documents(probe, merges).select("n_tokens", "tokens")

    def pq_topk(self, vector: list[float], k: int = 10) -> DataFrame:
        """Approximate top-k of an UNSEEN vector by PQ asymmetric
        distance over the standing codes table: the probe's per-subspace
        lookup tables come from the frozen codebook sidecar
        (train-once / encode-forever, like the centroid model), and the
        scan side is m small ints per vector — the 64x-compressed
        corpus, never the float vectors."""
        if self.pq_dest is None:
            raise ValueError("no PQ index configured")
        from fluxdb_spark.functions.similarity import pq_topk_from_codes

        books = load_pq_books(self.pq_dest)
        if books is None:
            raise ValueError(
                "PQ index has no trained codebooks — run index-retrieval"
            )
        derived = read_derived(self.spark, self.pq_dest)
        if derived is None:
            raise ValueError("PQ index is empty — run index-retrieval")
        codes = lww_latest(derived, ["vec_id"]).select("vec_id", "codes")
        probe = self.spark.createDataFrame(
            [(-1, [float(x) for x in vector])],
            "vec_id long, embedding array<double>",
        )
        return pq_topk_from_codes(
            codes, probe, books, k=k, dim=self.pq_dim
        ).drop("query_id")

    def hybrid(
        self,
        terms: list[str],
        vector: list[float],
        k: int = 10,
        rrf_k: int = 60,
    ) -> DataFrame:
        """Hybrid retrieval over the standing indexes: the sparse (BM25
        postings) and dense (LSH buckets) rankers each produce a bounded
        top-k over the SAME id space (documents whose vectors share the
        document id), fused by reciprocal-rank fusion — scores are never
        calibrated against each other, only ranks. Both rankers read
        materialized state; fusion itself is |2k| rows."""
        from pyspark.sql import Window

        from fluxdb_spark.functions.similarity import rrf_fuse

        sparse = self.bm25(terms, k=k)
        w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
        sparse_r = sparse.select(
            "doc_id", F.row_number().over(w).alias("rank")
        )
        dense_r = self.ann_topk(vector, k=k).select(
            F.col("match_id").alias("doc_id"), "rank"
        )
        return rrf_fuse([sparse_r, dense_r], k=k, rrf_k=rrf_k)


def refresh(
    spark: SparkSession,
    src_root: str,
    dest: str,
    transform,
    checkpoint_dir: str,
):
    """One synchronous catch-up pass (the batch twin of the continuous
    maintainer): fold every commit above the index's applied-version
    floor, then stop. Returns the derived relation.

    Runs the SAME catch-up the streaming maintainer runs per trigger —
    no streaming-query startup, offset log or trigger machinery (the
    `applied_version` floor in the dest state file is the resume point,
    so offsets add nothing to a one-shot pass; measured ~2 s of pure
    setup per refresh at 32 cores).  `checkpoint_dir` is accepted for
    signature compatibility with the continuous form and unused here."""
    del checkpoint_dir  # the floor file, not stream offsets, dedups work
    return refresh_many(spark, src_root, [(dest, transform)])[0]


def refresh_many(spark: SparkSession, src_root: str, jobs):
    """One synchronous catch-up pass for SEVERAL derived tables of the
    SAME store.  Each table resolves its own delta from its own floor
    (`CommitLog.appends_between` opens only the entries above it, in
    plain Python — no Spark job for the log), so the fixed cost grows
    with the commits since the last catch-up, not with the age of the
    store.  The per-table catch-ups write to disjoint dests, so they run
    as CONCURRENT driver jobs (guide §2.6): each is the unchanged
    single-table catch-up, concurrency only overlaps their job tails.
    `jobs` is a list of (dest, transform); returns the post-catch-up
    `read_derived` relation per job, in order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    catch_ups = [
        _rowwise_processor(spark, src_root, dest, tf) for dest, tf in jobs
    ]
    if len(catch_ups) == 1:
        catch_ups[0]()
    else:
        with ThreadPoolExecutor(max_workers=len(catch_ups)) as pool:
            futs = [
                pool.submit(inheritable_thread_target(c)) for c in catch_ups
            ]
            for f in futs:
                f.result()
    return [read_derived(spark, dest) for dest, _ in jobs]
