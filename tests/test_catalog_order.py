"""The catalog's correctness-window order is derived from the committed
``CORRECTNESS_r<N>.json`` stamps (``window_order``): oracle entries first,
never-stamped before stamped, older stamp before newer, ties in
registration order, rows-only entries last.  These cases run on artifact
files written to a temporary directory, so they need no Spark session."""

from __future__ import annotations

import json

from fluxdb_spark.catalog import (
    QuerySpec,
    _PRIORITY,
    catalog,
    correctness_stamps,
    window_order,
)

MATCH = {
    "rows_match": True,
    "schema_match": True,
    "hash_match": True,
    "spark_rows": 3,
    "oracle_rows": 3,
    "err": None,
}


def _spec(name: str, oracle: str | None = "SELECT 1") -> QuerySpec:
    return QuerySpec(name, "temporal", lambda spark, sf_dir: None, oracle)


def _stamp(root, rnd: str, records: dict) -> None:
    (root / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(records))


def _names(specs) -> list[str]:
    return [s.name for s in specs]


def test_never_stamped_entries_come_first(tmp_path):
    _stamp(tmp_path, "01", {"a": MATCH, "c": MATCH})
    specs = [_spec("a"), _spec("b"), _spec("c"), _spec("d")]
    assert _names(window_order(specs, tmp_path)) == ["b", "d", "a", "c"]


def test_older_stamp_comes_before_newer(tmp_path):
    _stamp(tmp_path, "01", {"a": MATCH, "b": MATCH})
    _stamp(tmp_path, "02", {"a": MATCH})
    specs = [_spec("a"), _spec("b")]
    assert correctness_stamps(tmp_path) == {"a": 2, "b": 1}
    assert _names(window_order(specs, tmp_path)) == ["b", "a"]


def test_mismatch_or_err_record_is_not_a_stamp(tmp_path):
    _stamp(
        tmp_path,
        "03",
        {
            "hash_off": {**MATCH, "hash_match": False},
            "schema_off": {**MATCH, "schema_match": False},
            "rows_off": {**MATCH, "rows_match": False},
            "errored": {**MATCH, "err": "Traceback ..."},
            "no_oracle": {
                **MATCH,
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "err": "no_oracle",
            },
            "ok": MATCH,
        },
    )
    assert correctness_stamps(tmp_path) == {"ok": 3}
    # an earlier match survives a later failed record
    _stamp(tmp_path, "04", {"ok": {**MATCH, "hash_match": False}})
    assert correctness_stamps(tmp_path) == {"ok": 3}
    specs = [_spec("ok"), _spec("hash_off"), _spec("errored")]
    assert _names(window_order(specs, tmp_path)) == [
        "hash_off",
        "errored",
        "ok",
    ]


def test_round_numbers_compare_as_integers(tmp_path):
    # "r9" > "r10" as strings; the unpadded r9 is the OLDER round
    _stamp(tmp_path, "9", {"a": MATCH, "b": MATCH})
    _stamp(tmp_path, "10", {"b": MATCH})
    assert correctness_stamps(tmp_path) == {"a": 9, "b": 10}
    specs = [_spec("b"), _spec("a")]
    assert _names(window_order(specs, tmp_path)) == ["a", "b"]


def test_ties_keep_registration_order(tmp_path):
    _stamp(tmp_path, "05", {n: MATCH for n in ("e", "c", "a")})
    specs = [_spec(n) for n in ("e", "d", "c", "b", "a")]
    assert _names(window_order(specs, tmp_path)) == ["d", "b", "e", "c", "a"]


def test_rows_only_entries_come_last(tmp_path):
    # even a never-stamped rows-only entry sorts after the newest stamp
    _stamp(tmp_path, "07", {"a": MATCH, "b": MATCH})
    specs = [_spec("ann", oracle=None), _spec("a"), _spec("b"), _spec("c")]
    assert _names(window_order(specs, tmp_path)) == ["c", "a", "b", "ann"]


def test_no_artifacts_is_registration_order(tmp_path):
    # unrelated and malformed names in the directory are not artifacts
    (tmp_path / "CORRECTNESS_rX.json").write_text("not json")
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({"a": MATCH}))
    specs = [_spec("c"), _spec("a"), _spec("b")]
    assert correctness_stamps(tmp_path) == {}
    assert _names(window_order(specs, tmp_path)) == ["c", "a", "b"]


def test_catalog_window_holds_only_oracle_entries():
    """The committed tree's own window: every entry the driver stamps has
    an oracle, and the rows-only IVF ANN never takes one of its slots."""
    specs = catalog()
    assert _PRIORITY == _names(specs)
    assert all(s.oracle is not None for s in specs[:50])
    rows_only = [s.name for s in specs if s.oracle is None]
    assert "embed_ann_ivf" in rows_only
    assert _PRIORITY[-len(rows_only):] == rows_only
