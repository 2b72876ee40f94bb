"""Property-based equivalence tests (hypothesis) for the temporal core.

The reference's semantics are pinned by example-based ports of its test
matrix (test_temporal.py); these properties check the *algebraic* claims on
randomized change-logs:

- `state_at` == a naive per-key latest-<=H model (last-write-wins +
  tombstones), for any log and any height;
- snapshot-union-delta (`state_at_with_index`) == plain `state_at` for ANY
  index height <= read height — the §7 "snapshot ⋃ delta ≡ full window
  dedup" obligation;
- `singlet_at` == the same model restricted to one key.

Examples are kept small (each runs real Spark jobs) but the shapes are
adversarial: duplicate heights per key are excluded (the reference keys rows
by (height, pk); two writes to the same pk at the same height cannot exist,
tablet.go:251-278)."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluxdb_spark.operators.snapshot import build_tablet_index, state_at_with_index
from fluxdb_spark.operators.temporal import singlet_at, state_at
from fluxdb_spark.schema import CHANGELOG_SCHEMA

PKS = ["a", "b", "c"]
HEIGHTS = list(range(1, 9))


@st.composite
def changelogs(draw):
    """A random tablet history: per (pk, height) at most one row."""
    cells = draw(
        st.lists(
            st.tuples(st.sampled_from(PKS), st.sampled_from(HEIGHTS)),
            min_size=1,
            max_size=12,
            unique=True,
        )
    )
    rows = []
    for pk, h in cells:
        is_del = draw(st.booleans())
        rows.append(
            (
                "tst",
                "tab",
                h,
                pk,
                None if is_del else f"v{h}{pk}",
                is_del,
                f"{h:08x}",
                h,
            )
        )
    return rows


def model_state(rows, height):
    """Naive last-write-wins + tombstone model."""
    latest: dict[str, tuple] = {}
    for r in sorted(rows, key=lambda r: r[2]):
        if r[2] <= height:
            latest[r[3]] = r
    return {
        r[3]: r[4] for r in latest.values() if not r[5]
    }


@pytest.fixture(scope="module")
def mk_df(spark):
    def f(rows):
        return spark.createDataFrame(rows, CHANGELOG_SCHEMA)

    return f


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=changelogs(), height=st.sampled_from(HEIGHTS))
def test_state_at_matches_model(mk_df, rows, height):
    got = {
        r.primary_key: r.value
        for r in state_at(mk_df(rows), "tab", height, collection="tst").collect()
    }
    assert got == model_state(rows, height)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=changelogs(),
    heights=st.tuples(
        st.sampled_from(HEIGHTS), st.sampled_from(HEIGHTS)
    ).map(sorted),
)
def test_snapshot_union_delta_equals_window_dedup(mk_df, rows, heights):
    idx_h, read_h = heights
    log = mk_df(rows)
    idx = build_tablet_index(log, "tab", idx_h, collection="tst")
    via_index = {
        r.primary_key: r.value
        for r in state_at_with_index(
            log, idx, "tab", read_h, collection="tst"
        ).collect()
    }
    plain = {
        r.primary_key: r.value
        for r in state_at(log, "tab", read_h, collection="tst").collect()
    }
    assert via_index == plain


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=changelogs(), height=st.sampled_from(HEIGHTS))
def test_singlet_at_matches_model(mk_df, rows, height):
    # treat each pk's history independently as a singlet keyed by tablet_id
    singlet_rows = [
        (r[0], f"sgl#{r[3]}", r[2], "", r[4], r[5], r[6], r[7]) for r in rows
    ]
    model = model_state(rows, height)
    df = mk_df(singlet_rows)
    for pk in PKS:
        got = singlet_at(df, f"sgl#{pk}", height, collection="tst").collect()
        if pk in model:
            assert len(got) == 1 and got[0].value == model[pk]
        else:
            assert got == []


# --- range join: bucketed equi-join == naive non-equi join ------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(st.integers(-50, 50), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
        min_size=1,
        max_size=8,
    ),
    width=st.sampled_from([1, 3, 7, 25, 200]),
)
def test_range_join_matches_naive(spark, points, intervals, width):
    from fluxdb_spark.operators.ranges import range_join

    p = spark.createDataFrame(
        [(i, x) for i, x in enumerate(points)], "pid long, x long"
    )
    iv = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(intervals)],
        "iid long, s long, e long",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(p, iv, "x", "s", "e", width).collect()
    }
    want = {
        (pi, ii)
        for pi, x in enumerate(points)
        for ii, (s, e) in enumerate(intervals)
        if s <= x < e
    }
    assert got == want


# --- cross-tablet state join: model equivalence ------------------------------


@st.composite
def two_tablet_changelogs(draw):
    rows = []
    for tab in ("ta", "tb"):
        cells = draw(
            st.lists(
                st.tuples(st.sampled_from(PKS), st.sampled_from(HEIGHTS)),
                min_size=0,
                max_size=10,
                unique=True,
            )
        )
        for pk, h in cells:
            is_del = draw(st.booleans())
            rows.append(
                (
                    "tst", tab, h, pk,
                    None if is_del else f"v{tab}{h}{pk}",
                    is_del, f"{h:08x}", h,
                )
            )
    return rows


def _model_live(rows, tab, height):
    latest = {}
    for r in sorted(rows, key=lambda r: r[2]):
        if r[1] == tab and r[2] <= height:
            latest[r[3]] = r
    return {
        r[3]: (r[2], r[4]) for r in latest.values() if not r[5]
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=two_tablet_changelogs(),
    height=st.sampled_from(HEIGHTS),
    how=st.sampled_from(["inner", "outer"]),
)
def test_state_join_matches_model(mk_df, rows, height, how):
    """state_join ≡ per-tablet LWW model + python-side join semantics,
    for random histories with tombstones in both tablets."""
    from fluxdb_spark.operators.temporal import state_join

    got = {
        r.primary_key: (r.ta_height, r.ta_value, r.tb_height, r.tb_value)
        for r in state_join(
            mk_df(rows), ["ta", "tb"], height, how=how,
            collection="tst",
        ).collect()
    }
    a = _model_live(rows, "ta", height)
    b = _model_live(rows, "tb", height)
    keys = set(a) & set(b) if how == "inner" else set(a) | set(b)
    want = {
        k: (
            a.get(k, (None, None))[0], a.get(k, (None, None))[1],
            b.get(k, (None, None))[0], b.get(k, (None, None))[1],
        )
        for k in keys
    }
    assert got == want


# --- prefix-filtered Jaccard: lossless vs brute force -----------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=12,
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_jaccard_prefix_filter_is_lossless(spark, docs, threshold):
    """The PPJoin prefix filter must find EVERY pair at >= threshold — the
    candidate pruning may only drop pairs that could not qualify. Compared
    against a brute-force python model over the same shingle sets."""
    from fluxdb_spark.functions.dedup import jaccard_pairs, SHINGLE_WORDS

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_pairs(df, threshold).collect()
    }

    def shingles(t):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i : i + SHINGLE_WORDS])
            for i in range(len(toks) - SHINGLE_WORDS + 1)
        }

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b:
                continue
            jac = round(len(a & b) / len(a | b), 4)
            if jac >= threshold:
                want[(i, j)] = jac
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=12,
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_containment_prefix_filter_is_lossless(spark, docs, threshold):
    """The one-sided (smaller-set) prefix filter must find EVERY pair at
    containment >= threshold, against a brute-force python model."""
    from fluxdb_spark.functions.dedup import (
        containment_pairs,
        SHINGLE_WORDS,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.d1, r.d2): r.containment
        for r in containment_pairs(df, threshold).collect()
    }

    def shingles(t):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i : i + SHINGLE_WORDS])
            for i in range(len(toks) - SHINGLE_WORDS + 1)
        }

    want = {}
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i == j:
                continue
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b:
                continue
            # d1 = smaller set, ties to lower id
            if (len(a), i) >= (len(b), j):
                continue
            c = round(len(a & b) / len(a), 4)
            if c >= threshold:
                want[(i, j)] = c
    assert got == want


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc pasted inside a long one: containment 1.0, Jaccard far
    below threshold — the asymmetric measure's whole point."""
    from fluxdb_spark.functions.dedup import containment_pairs, jaccard_pairs

    short = "aa bb cc dd"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id long, text string"
    )
    cont = {(r.d1, r.d2): r.containment
            for r in containment_pairs(df, 0.8).collect()}
    assert cont == {(0, 1): 1.0}
    assert jaccard_pairs(df, 0.8).count() == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=8),
        min_size=2,
        max_size=14,
    ),
    k=st.sampled_from([1, 2]),
)
def test_editdist_prefix_filter_is_lossless(spark, vals, k):
    """Ed-Join candidate generation must surface EVERY distinct-value pair
    within k edits — the q-gram prefix filter may only prune pairs that
    cannot qualify, and strings whose gram set is <= q*k (including the
    empty string) must flow through the wildcard band. Compared against a
    brute-force python Levenshtein over the distinct values."""
    from fluxdb_spark.functions.dedup import editdist_pairs

    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = {
        (r.val_a, r.val_b): (r.dist, r.cnt_a, r.cnt_b)
        for r in editdist_pairs(df, "name", k).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from collections import Counter

    cnt = Counter(vals)
    uniq = sorted(cnt)
    want = {}
    for i, a in enumerate(uniq):
        for b in uniq[i + 1:]:
            d = lev(a, b)
            if d <= k:
                want[(a, b)] = (d, cnt[a], cnt[b])
    assert got == want


# --- round-3 corpus operators: model equivalence on random corpora ---------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.integers(min_value=0, max_value=999),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[1],
    ),
    k=st.sampled_from([1, 2, 5]),
)
def test_cap_per_group_is_min_k_group_size(spark, rows, k):
    """Every group keeps exactly min(K, |group|) rows, the kept set is a
    subset of the group, and rn is 1..kept with no gaps."""
    from collections import Counter

    from fluxdb_spark.functions.curation import cap_per_group

    df = spark.createDataFrame(
        [(d, f"text {d}", s) for s, d in rows],
        "doc_id long, text string, source string",
    )
    out = cap_per_group(df, "source", k, key_col="doc_id").collect()
    sizes = Counter(s for s, _ in rows)
    kept = Counter(r.source for r in out)
    for src, n in sizes.items():
        assert kept[src] == min(k, n)
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.rn)
    for src, rns in by_src.items():
        assert sorted(rns) == list(range(1, len(rns) + 1))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee".split()),
            min_size=2,
            max_size=10,
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_lm_matches_python_model(spark, docs):
    """avg_logp must equal the exact python bigram-MLE model (to the floor4
    truncation both engines share)."""
    import math
    from collections import Counter

    from fluxdb_spark.functions.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in bigram_lm_scores(df).collect()}

    big = Counter()
    ctx = Counter()
    per_doc = {}
    for i, t in enumerate(docs):
        ws = t.split(" ")
        pairs = list(zip(ws, ws[1:]))
        per_doc[i] = pairs
        big.update(pairs)
        ctx.update(w1 for w1, _ in pairs)
    for i, pairs in per_doc.items():
        if not pairs:
            assert i not in got
            continue
        avg = sum(math.log(big[p] / ctx[p[0]]) for p in pairs) / len(pairs)
        want = math.floor(avg * 10000) / 10000.0
        assert got[i][0] == len(pairs)
        assert abs(got[i][1] - want) < 2e-4  # float-order slack at the floor


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd".split()), min_size=1, max_size=30
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=6,
    )
)
def test_chunk_dup_matches_python_model(spark, docs):
    """n_chunks / n_dup_chunks must equal the brute-force tiling model."""
    from collections import Counter

    from fluxdb_spark.functions.dedup import CHUNK_WORDS, chunk_dup_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks)
        for r in chunk_dup_stats(df).collect()
    }

    def tiles(t):
        ws = t.lower().split(" ")
        return [
            " ".join(ws[i : i + CHUNK_WORDS])
            for i in range(0, len(ws), CHUNK_WORDS)
        ]

    occ = Counter()
    for t in docs:
        occ.update(tiles(t))
    for i, t in enumerate(docs):
        ts = tiles(t)
        dup = sum(1 for x in ts if occ[x] > 1)
        assert got[i] == (len(ts), dup)


# ---------------------------------------------------------------------------
# Fork-fuzz: randomized reorg sequences vs a naive chain-replay model
# ---------------------------------------------------------------------------


@st.composite
def fork_scenarios(draw):
    """A random reversible-block DAG plus a finality prefix: every block
    forks off one of the last few blocks (the reference buffers forks near
    the head, pipeline.go:110), writes/deletes a few keys, and LIB then
    advances a random distance along the final head chain."""
    n_blocks = draw(st.integers(min_value=3, max_value=9))
    nums = {"": -1}
    ids = [""]
    blocks = []
    for i in range(n_blocks):
        parent = draw(st.sampled_from(ids[-3:]))
        bid = f"b{i}"
        nums[bid] = nums[parent] + 1
        ids.append(bid)
        pks = draw(
            st.lists(st.sampled_from(["p", "q", "r"]), max_size=2, unique=True)
        )
        rows = [(pk, draw(st.booleans())) for pk in pks]
        blocks.append((bid, nums[bid], parent, rows))
    n_final = draw(st.integers(min_value=0, max_value=n_blocks))
    return blocks, n_final


def _canonical_chain(blocks, head_id):
    by_id = {bid: (bid, num, parent, rows) for bid, num, parent, rows in blocks}
    chain, cur = [], head_id
    while cur != "":
        chain.append(by_id[cur])
        cur = by_id[cur][2]
    chain.reverse()
    return chain


def _model_replay(chain, height):
    """Naive Python model: apply the canonical chain's rows oldest-first,
    last-write-wins with tombstones, up to `height`."""
    state = {}
    for bid, num, _parent, rows in chain:
        if num > height:
            break
        for pk, is_del in rows:
            if is_del:
                state.pop(pk, None)
            else:
                state[pk] = (f"v{bid}{pk}", num)
    return state


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=fork_scenarios())
def test_fork_fuzz_engine_matches_chain_replay(spark, tmp_path_factory, scenario):
    """Verdict-r3 #7 — FluxEngine.state_at over ANY random fork/finality
    sequence == the naive chain replay, at every interesting height: the
    overlay (reversible segment), the durable store (finalized prefix),
    and their union must compose to exactly the canonical chain."""
    from fluxdb_spark.streaming.ingest import FluxEngine

    blocks, n_final = scenario
    root = tmp_path_factory.mktemp("forkfuzz")
    eng = FluxEngine(spark, str(root / "db"))
    pipe = eng.pipeline

    for bid, num, parent, rows in blocks:
        tuples = [
            (
                "tst",
                "tab",
                num,
                pk,
                None if is_del else f"v{bid}{pk}",
                is_del,
                bid,
                num,
            )
            for pk, is_del in rows
        ]
        pipe.process_new_block(bid, num, parent, tuples)

    head_id, head_num = blocks[-1][0], blocks[-1][1]
    chain = _canonical_chain(blocks, head_id)
    for bid, num, _parent, _rows in chain[: min(n_final, len(chain))]:
        pipe.process_irreversible(bid, num)
    pipe.flush()

    for h in sorted({0, head_num // 2, head_num}):
        got = {
            r.primary_key: (r.value, r.height)
            for r in eng.state_at("tab", h, collection="tst").collect()
        }
        assert got == _model_replay(chain, h), (
            f"mismatch at height {h}: finalized {n_final} of "
            f"{[b[0] for b in chain]}"
        )


# ---------------------------------------------------------------------------
# Driver-side point reads (FluxEngine.row_at / singlet_at / has_rows read
# the committed files through Arrow and fold the overlay in Python) against
# the Spark operators of operators/temporal.py over the same store.

POINT_BAND = 4  # small bands: reads land on both sides of a boundary
POINT_COLLECTIONS = ["a:b", "7"]  # escaped in the Hive path; numeric-looking


def _point_row(collection, tablet, height, pk, is_del, tag):
    value = None if is_del else f"{tag}{height}{pk}"
    return (
        collection, tablet, height, pk, value, is_del, f"{height:08x}", height,
    )


def point_probes(top):
    """(read, tablet, key, height, collection): "w" exists only in the
    pending batch; singlet reads go to "s", whose key is always ""."""
    heights = st.integers(min_value=-1, max_value=top + 3)
    colls = st.sampled_from([None] + POINT_COLLECTIONS)
    tablets = st.sampled_from(["t", "u", "v", "s", "w"])
    return st.one_of(
        st.tuples(
            st.just("row_at"), tablets, st.sampled_from(["p", "q", ""]),
            heights, colls,
        ),
        st.tuples(
            st.just("singlet_at"), st.sampled_from(["s", "w"]), st.just(""),
            heights, colls,
        ),
        st.tuples(
            st.just("has_rows"), tablets, st.just(""), st.just(0), colls
        ),
    )


@st.composite
def point_stores(draw):
    """A random store history: durable rows over heights 0..top (a filler
    tablet keeps them gap-free) cut into batches; an overlay above a LIB
    at or below the checkpoint, so some of its rows rewrite durable
    heights, plus an overlay-only tablet "v"; optionally expired bands
    and a pending batch. Keys are unique per (tablet, pk, height) on each
    side, and the singlet tablet "s" only has key "", so every answer is
    determined."""
    top = draw(st.integers(min_value=5, max_value=11))

    def cells(tablets, lo, hi, max_size):
        h = st.integers(min_value=lo, max_value=hi)
        keyed = draw(
            st.lists(
                st.tuples(
                    st.sampled_from(tablets), st.sampled_from(["p", "q"]), h
                ),
                max_size=max_size,
                unique=True,
            )
        )
        singlet = draw(st.lists(h, max_size=4, unique=True))
        return [
            (draw(st.sampled_from(POINT_COLLECTIONS)), t, hh, pk,
             draw(st.booleans()))
            for t, pk, hh in keyed + [("s", "", hh) for hh in singlet]
        ]

    lib = draw(st.integers(min_value=top - 3, max_value=top))
    return {
        "top": top,
        "durable": cells(["t", "u"], 0, top, 12),
        "cuts": sorted(
            draw(
                st.lists(
                    st.integers(min_value=1, max_value=top),
                    max_size=2,
                    unique=True,
                )
            )
        ),
        "lib": lib,
        "overlay": cells(["t", "u", "v"], lib + 1, top + 3, 6),
        "expire": draw(st.booleans()),
        "pending": draw(st.booleans()),
        "probes": draw(st.lists(point_probes(top), min_size=3, max_size=6)),
        "boundary": draw(st.sampled_from([POINT_BAND, 2 * POINT_BAND])),
    }


def _build_point_store(spark, root, data_format, sc):
    import json

    from fluxdb_spark.forkdb import BlockRef
    from fluxdb_spark.schema import local_frame
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming.ingest import FluxEngine

    def frame(rows):
        return local_frame(spark, rows, CHANGELOG_SCHEMA)

    top = sc["top"]
    rows = [_point_row(*cell, "v") for cell in sc["durable"]]
    rows += [_point_row("7", "z", h, "f", False, "f") for h in range(top + 1)]
    store = ChangelogStore(
        spark, root, height_band=POINT_BAND, data_format=data_format
    )
    bounds = [0] + sc["cuts"] + [top + 1]
    for lo, hi in zip(bounds, bounds[1:]):
        store.write_batch(frame([r for r in rows if lo <= r[2] < hi]))
    if sc["expire"]:
        store.expire_bands(POINT_BAND)
    eng = FluxEngine(spark, root)
    if sc["pending"]:
        # a batch whose commit point never landed: its files are in the
        # band directories, its manifest names them, the checkpoint is
        # below its top height — its rows (tablet "w" among them) must
        # stay invisible to both read paths
        ckpt = store.checkpoint()
        store.write_batch(
            frame(
                [
                    _point_row("7", t, h, pk, False, "pend")
                    for h in (top + 1, top + 2)
                    for t, pk in (("t", "p"), ("w", "q"), ("s", ""))
                ]
            )
        )
        added = store._backend.commit_log.entries()[-1]["add"]
        store._write_checkpoint(ckpt.height, ckpt.block_id, ckpt.block_num)
        manifest = os.path.join(store._manifest_dir, "batch-pending.json")
        with open(manifest, "w") as f:
            json.dump(
                {
                    "hi": top + 2,
                    "shard": None,
                    "targets": [os.path.join(root, a) for a in added],
                    "staging": "",
                },
                f,
            )
    pipe = eng.pipeline
    pipe.forkdb.lib = BlockRef("lib", sc["lib"])
    parent = "lib"
    for h in range(sc["lib"] + 1, top + 4):
        block = [_point_row(*c, "o") for c in sc["overlay"] if c[2] == h]
        pipe.process_new_block(f"o{h}", h, parent, block)
        parent = f"o{h}"
    return eng


@pytest.mark.parametrize("data_format", ["parquet", "orc"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=point_stores())
def test_driver_point_reads_match_spark_operators(
    spark, tmp_path_factory, data_format, scenario
):
    """The driver-side R2 / R3 / R5 equal the Spark operators over
    `changelog(max_height=)` plus `speculative_writes` — tombstones,
    same-height overlay rewrites, overlay-only tablets, a pending batch,
    band boundaries, expired bands and escaped collections included."""
    from fluxdb_spark.operators import temporal
    from fluxdb_spark.store import WriteConsistencyError

    root = str(tmp_path_factory.mktemp("points") / "db")
    eng = _build_point_store(spark, root, data_format, scenario)
    pipe, store = eng.pipeline, eng.store
    top, b = scenario["top"], scenario["boundary"]
    probes = scenario["probes"] + [
        ("row_at", "t", "p", b - 1, None),
        ("row_at", "t", "p", b, None),
        ("singlet_at", "s", "", b - 1, None),
        ("singlet_at", "s", "", b, None),
    ]
    if scenario["pending"]:
        # the pending batch's files are its only rows of tablet "w"
        assert eng.has_rows("w") is False
        probes += [
            ("row_at", "t", "p", top + 2, "7"),
            ("singlet_at", "s", "", top + 2, "7"),
        ]

    for kind, tablet, pk, h, coll in probes:
        where = (kind, tablet, pk, h, coll)
        if kind == "has_rows":
            log = store.changelog()
            spec = pipe.speculative_writes()
            if spec is not None:
                log = log.unionByName(spec)
            want = temporal.has_rows(log, tablet, collection=coll)
            assert eng.has_rows(tablet, collection=coll) == want, where
            continue
        if kind == "row_at":
            def spark_read(log, spec):
                return temporal.row_at(
                    log, tablet, h, pk, spec, collection=coll
                )

            def driver_read():
                return eng.row_at(tablet, h, pk, collection=coll)
        else:
            def spark_read(log, spec):
                return temporal.singlet_at(
                    log, tablet, h, spec, collection=coll
                )

            def driver_read():
                return eng.singlet_at(tablet, h, collection=coll)
        if h < store.retention_horizon():
            with pytest.raises(WriteConsistencyError):
                store.changelog(max_height=h)
            with pytest.raises(WriteConsistencyError):
                driver_read()
            continue
        want = spark_read(
            store.changelog(max_height=h),
            pipe.speculative_writes(up_to_height=h),
        ).collect()
        assert [tuple(r) for r in driver_read().collect()] == [
            tuple(r) for r in want
        ], where


@st.composite
def asof_frames(draw):
    """Random (left, right) as-of inputs: 1-2 keys, small integer times,
    unique right times per key (merge_asof needs a total order; duplicate
    right times are covered by the example-based tiebreak tests)."""
    keys = draw(st.sampled_from([["k1"], ["k1", "k2"]]))
    left = []
    right = []
    for k in keys:
        lts = draw(st.lists(st.integers(0, 12), min_size=1, max_size=5))
        rts = draw(
            st.lists(
                st.integers(0, 12), min_size=0, max_size=5, unique=True
            )
        )
        left += [(k, t) for t in lts]
        right += [(k, t, float(100 * t + hash(k) % 7)) for t in rts]
    return left, right


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    frames=asof_frames(),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    exact=st.booleans(),
    tol=st.sampled_from([None, 0, 3, 100]),
)
def test_asof_join_matches_pandas(spark, frames, direction, exact, tol):
    """asof_join == pandas.merge_asof on RANDOM frames, across every
    direction x exact-match x tolerance combination — the de facto
    reference implementation as the property oracle."""
    import pandas as pd

    from fluxdb_spark.operators.asof import asof_join

    left_rows, right_rows = frames
    left = spark.createDataFrame(left_rows, "k string, t long")
    right = spark.createDataFrame(right_rows, "k string, t long, rv double")
    got = {
        (r.k, r.t, i): r.rv
        for i, r in enumerate(
            sorted(
                asof_join(
                    left, right, on=["k"], left_time="t", right_time="t",
                    payload_cols=["rv"], direction=direction,
                    allow_exact_matches=exact, tolerance=tol,
                ).collect(),
                key=lambda r: (r.k, r.t, r.rv if r.rv is not None else -1),
            )
        )
    }
    lp = (
        pd.DataFrame(left_rows, columns=["k", "t"])
        .astype({"k": "string", "t": "int64"})
        .sort_values("t")
    )
    rp = (
        pd.DataFrame(right_rows, columns=["k", "t", "rv"])
        .astype({"k": "string", "t": "int64", "rv": "float64"})
        .sort_values("t")
    )
    m = pd.merge_asof(
        lp, rp, on="t", by="k", direction=direction,
        allow_exact_matches=exact, tolerance=tol,
    )
    want = {
        (row.k, row.t, i): (None if pd.isna(row.rv) else row.rv)
        for i, row in enumerate(
            sorted(
                m.itertuples(),
                key=lambda r: (
                    r.k,
                    r.t,
                    r.rv if not pd.isna(r.rv) else -1,
                ),
            )
        )
    }
    assert got == want


# --- paragraph dedup (C4 sub-document rule) --------------------------------

SPANS = ["alpha one", "beta two", "gamma three", "delta four", "epsilon five"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(SPANS), min_size=1, max_size=5),
        min_size=1,
        max_size=6,
    )
)
def test_paragraph_dedup_keeps_each_span_exactly_once(spark, docs):
    """Random corpora from a small span alphabet: after dedup (1) every
    distinct input span survives exactly once corpus-wide, (2) it
    survives at its FIRST (doc_id, pos) occurrence, and (3) surviving
    spans keep their original relative order inside each doc."""
    from fluxdb_spark.functions.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(i, ". ".join(spans)) for i, spans in enumerate(docs)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    kept: dict[str, int] = {}
    for doc_id in sorted(out):
        spans = [s for s in out[doc_id].clean_text.split(". ") if s]
        # relative order preserved: kept spans appear in input order
        inp = docs[doc_id]
        for s in spans:
            assert s in inp
        positions = [inp.index(s) for s in spans]
        assert positions == sorted(positions)
        for s in spans:
            kept[s] = kept.get(s, 0) + 1
    distinct_input = {s for spans in docs for s in spans}
    assert kept.keys() == distinct_input
    assert all(v == 1 for v in kept.values())
    # first-occurrence rule: the owner of each span is the smallest
    # (doc_id, pos) where it appears
    for s in distinct_input:
        owner = min(
            (d, p) for d, spans in enumerate(docs)
            for p, x in enumerate(spans) if x == s
        )
        spans_kept = [
            x for x in out[owner[0]].clean_text.split(". ") if x
        ]
        assert s in spans_kept


# --- novelty conservation: per-doc novel counts tile the vocabulary ---------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=12,
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=8,
    ),
)
def test_novelty_counts_tile_the_vocabulary(spark, docs):
    """Every distinct corpus shingle has exactly ONE first-occurrence
    owner, so sum(n_novel) over docs == |global distinct shingles| —
    the conservation law that makes novelty a partition of the
    vocabulary, not a fuzzy score.  Also n_novel <= n_shingles per doc
    and doc 0 (the smallest id with any shingle) is fully novel."""
    from fluxdb_spark.functions.dedup import doc_novelty, SHINGLE_WORDS

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    rows = doc_novelty(df).collect()

    def shingles(t):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i : i + SHINGLE_WORDS])
            for i in range(len(toks) - SHINGLE_WORDS + 1)
        }

    vocab = set()
    for t in docs:
        vocab |= shingles(t)
    assert sum(r.n_novel for r in rows) == len(vocab)
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert r.n_shingles == len(shingles(docs[r.doc_id]))
    if rows:
        first = min(r.doc_id for r in rows)
        got = next(r for r in rows if r.doc_id == first)
        assert got.n_novel == got.n_shingles


# --- weighted WOR sampling: the shard-merge algebra -------------------------
#
# The distributability claim of curation.wor_sample: because every row's
# Efraimidis-Spirtakis priority is a pure function of (id, weight), the
# top-k of ANY shard union equals the top-k of the whole relation — for
# any sharding, any weights, any k. Both sides run the same JVM ln, so
# the property is exact (no cross-libm ulp concern).


@st.composite
def weighted_docs(draw):
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=2,
            max_size=14,
            unique=True,
        )
    )
    return [
        (i, draw(st.integers(min_value=1, max_value=500))) for i in ids
    ]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=weighted_docs(), k=st.integers(min_value=1, max_value=6),
       n_shards=st.integers(min_value=2, max_value=4))
def test_wor_shard_merge_equals_global(spark, rows, k, n_shards):
    from fluxdb_spark.functions.curation import wor_sample

    df = spark.createDataFrame(rows, "doc_id long, w long")
    global_draw = {
        (r.doc_id, r.pri_e9)
        for r in wor_sample(df, k, weight_col="w").collect()
    }
    merged = []
    for s in range(n_shards):
        merged.extend(
            wor_sample(
                df.filter(F.col("doc_id") % n_shards == s), k, weight_col="w"
            ).collect()
        )
    merged.sort(key=lambda r: (-r.pri_e9, r.doc_id))
    want = {(r.doc_id, r.pri_e9) for r in merged[:k]}
    assert global_draw == want
