"""Serving read endpoint (streaming/serve.QueryServer): the long-running
HTTP query API of server mode — overlay-aware temporal reads end-to-end
against a live server with a fork in flight (reference server mode,
README.md:42-49 / fluxdb.go:104-154)."""

from __future__ import annotations

import json
from urllib.error import HTTPError
from urllib.request import urlopen

import pytest

from fluxdb_spark.forkdb import BlockRef
from fluxdb_spark.schema import CHANGELOG_SCHEMA
from fluxdb_spark.streaming.ingest import FluxEngine
from fluxdb_spark.streaming.serve import QueryServer
from tests.test_streaming import clrow


def _get(url):
    with urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


@pytest.fixture()
def engine(spark, tmp_path):
    eng = FluxEngine(spark, str(tmp_path / "db"))
    eng.store.write_batch(
        spark.createDataFrame(
            [
                clrow("tbl", 100, "001", "base", "b100"),
                clrow("tbl", 100, "002", "other", "b100"),
            ],
            CHANGELOG_SCHEMA,
        )
    )
    ckpt = eng.store.checkpoint()
    eng.pipeline.forkdb.lib = BlockRef(ckpt.block_id, ckpt.height)
    return eng


@pytest.fixture()
def server(engine):
    srv = QueryServer(engine, port=0)
    yield srv
    srv.close()


class TestQueryServer:
    def test_state_at_sees_fork_in_flight_and_fork_switch(
        self, engine, server
    ):
        # a speculative block updates key 001 above the durable head
        engine.pipeline.process_new_block(
            "b101a", 101, "b100",
            [clrow("tbl", 101, "001", "forkA", "b101a")],
        )
        url = f"{server.url}/v1/state_at?tablet=tbl&collection=tst"
        got = _get(f"{url}&height=101")
        vals = {r["primary_key"]: r["value"] for r in got["rows"]}
        assert vals == {"001": "forkA", "002": "other"}
        # below the fork the durable state is served
        got = _get(f"{url}&height=100")
        vals = {r["primary_key"]: r["value"] for r in got["rows"]}
        assert vals == {"001": "base", "002": "other"}
        # a fork SWITCH changes responses with no server restart
        engine.pipeline.process_new_block(
            "b101b", 101, "b100",
            [clrow("tbl", 101, "001", "forkB", "b101b")],
        )
        got = _get(f"{url}&height=101")
        vals = {r["primary_key"]: r["value"] for r in got["rows"]}
        assert vals == {"001": "forkB", "002": "other"}

    def test_state_join_route_overlay_and_params(self, engine, server):
        # a second tablet plus a speculative update to it above the head
        engine.store.write_batch(
            engine.spark.createDataFrame(
                [clrow("tb2", 100, "001", "two", "b100")],
                CHANGELOG_SCHEMA,
            )
        )
        engine.pipeline.process_new_block(
            "b101a", 101, "b100",
            [clrow("tb2", 101, "001", "twoFork", "b101a")],
        )
        url = (
            f"{server.url}/v1/state_join?tablets=tbl,tb2&collection=tst"
        )
        got = _get(f"{url}&height=101")
        rows = {r["primary_key"]: r for r in got["rows"]}
        # inner: only 001 lives in both; the fork row wins for tb2
        assert list(rows) == ["001"]
        assert rows["001"]["tbl_value"] == "base"
        assert rows["001"]["tb2_value"] == "twoFork"
        got = _get(f"{url}&height=101&how=outer")
        rows = {r["primary_key"]: r for r in got["rows"]}
        assert set(rows) == {"001", "002"}
        assert rows["002"]["tb2_value"] is None
        with pytest.raises(HTTPError) as e:
            _get(f"{url}&height=101&how=bogus")
        assert e.value.code == 400
        with pytest.raises(HTTPError) as e:
            _get(
                f"{server.url}/v1/state_join?tablets=tbl&height=101"
                "&collection=tst"
            )
        assert e.value.code == 400

    def test_row_at_and_checkpoint_and_has_rows(self, engine, server):
        got = _get(
            f"{server.url}/v1/row_at?tablet=tbl&height=100&key=001"
            "&collection=tst"
        )
        assert [r["value"] for r in got["rows"]] == ["base"]
        ck = _get(f"{server.url}/v1/checkpoint")
        assert ck["height"] == 100 and ck["block_id"] == "b100"
        assert _get(
            f"{server.url}/v1/has_rows?tablet=tbl&collection=tst"
        ) == {"has_rows": True}
        assert _get(
            f"{server.url}/v1/has_rows?tablet=nope&collection=tst"
        ) == {"has_rows": False}

    def test_limit_caps_and_flags_truncation(self, engine, server):
        got = _get(
            f"{server.url}/v1/state_at?tablet=tbl&height=100"
            "&collection=tst&limit=1"
        )
        assert got["count"] == 1 and got["truncated"] is True
        # ordered by primary_key: the first page is deterministic
        assert got["rows"][0]["primary_key"] == "001"

    def test_series_history_and_twa_routes(self, engine, server):
        # a second version of key 001 so the series has a transition
        engine.store.write_batch(
            engine.spark.createDataFrame(
                [clrow("tbl", 110, "001", "7", "b110")], CHANGELOG_SCHEMA
            ),
            force=True,
        )
        got = _get(
            f"{server.url}/v1/state_series?tablet=tbl&collection=tst"
            "&start=100&stop=110&step=5"
        )
        series = {
            (r["as_of_height"], r["primary_key"]): r["value"]
            for r in got["rows"]
        }
        assert series[(100, "001")] == "base"
        assert series[(110, "001")] == "7"
        assert series[(105, "002")] == "other"
        hist = _get(
            f"{server.url}/v1/singlet_history?singlet=tbl&collection=tst"
        )
        assert hist["count"] >= 2
        twa = _get(
            f"{server.url}/v1/time_weighted?tablet=tbl&collection=tst"
            "&start=100&stop=110"
            "&metric=CASE+WHEN+value+%3D+%27base%27+THEN+1+ELSE+7+END"
        )
        by_key = {r["primary_key"]: r for r in twa["rows"]}
        # key 001: value 'base' (metric 1) for 10 heights, then 7 for 1
        assert by_key["001"]["live_heights"] == 11
        assert abs(by_key["001"]["twa"] - (10 * 1 + 1 * 7) / 11) < 1e-3

    def test_concurrent_requests(self, server):
        """Handler threads issue independent Spark actions — concurrent
        clients must all get complete, correct responses."""
        from concurrent.futures import ThreadPoolExecutor

        url = (
            f"{server.url}/v1/state_at?tablet=tbl&collection=tst&height=100"
        )
        with ThreadPoolExecutor(max_workers=4) as ex:
            results = list(ex.map(lambda _: _get(url), range(8)))
        for got in results:
            assert {r["primary_key"] for r in got["rows"]} == {"001", "002"}

    def test_saturation_mixed_reads_with_concurrent_writer(
        self, engine, server
    ):
        """Saturation shape of a standing server: 16 concurrent clients
        across every temporal route WHILE a maintainer batch commits —
        each response is complete and internally consistent (a reader
        sees the store before or after the append, never a torn state),
        and the append is visible once the writer finishes."""
        from concurrent.futures import ThreadPoolExecutor

        urls = [
            f"{server.url}/v1/state_at?tablet=tbl&collection=tst&height=100",
            f"{server.url}/v1/row_at?tablet=tbl&collection=tst"
            "&height=100&key=001",
            f"{server.url}/v1/singlet_history?singlet=tbl&collection=tst",
            f"{server.url}/v1/checkpoint",
        ] * 4

        def write_batch():
            engine.store.write_batch(
                engine.spark.createDataFrame(
                    [clrow("tbl", 120, "003", "late", "b120")],
                    CHANGELOG_SCHEMA,
                ),
                force=True,
            )
            return "written"

        with ThreadPoolExecutor(max_workers=9) as ex:
            writer = ex.submit(write_batch)
            results = list(ex.map(_get, urls))
            assert writer.result() == "written"
        for url, got in zip(urls, results):
            if "state_at" in url:
                # height-100 snapshot: the height-120 append never leaks
                assert {r["primary_key"] for r in got["rows"]} == {
                    "001", "002",
                }
            elif "row_at" in url:
                assert [r["value"] for r in got["rows"]] == ["base"]
            elif "singlet_history" in url:
                assert got["count"] >= 1
            else:
                assert got["height"] == 100
        # the concurrent append is durably visible at its height
        got = _get(
            f"{server.url}/v1/state_at?tablet=tbl&collection=tst&height=120"
        )
        assert {r["primary_key"] for r in got["rows"]} == {
            "001", "002", "003",
        }

    def test_bad_params_and_unknown_route(self, server):
        with pytest.raises(HTTPError) as e:
            _get(f"{server.url}/v1/state_at?tablet=tbl&height=abc")
        assert e.value.code == 400
        with pytest.raises(HTTPError) as e:
            _get(f"{server.url}/v1/state_at?tablet=tbl")
        assert e.value.code == 400
        with pytest.raises(HTTPError) as e:
            _get(f"{server.url}/v1/nope")
        assert e.value.code == 404

    def test_metric_expression_is_validated(self, engine, server):
        """The untrusted `metric` parameter must stay inside the safe
        expression grammar — function calls (reflection, cast, anything)
        are 400s, never handed to F.expr."""
        from urllib.parse import quote

        base = (
            f"{server.url}/v1/time_weighted?tablet=tbl&collection=tst"
            "&start=100&stop=110&metric="
        )
        for bad in [
            "java_method('java.lang.Runtime','getRuntime')",
            "reflect('java.lang.System','getenv','PATH')",
            "cast(value as int)",
            "length(value)",
            "value; drop table x",
            "`value`",
        ]:
            with pytest.raises(HTTPError) as e:
                _get(base + quote(bad, safe=""))
            assert e.value.code == 400, bad
        # the safe grammar still admits CASE/arithmetic metrics
        ok = _get(
            base
            + quote("CASE WHEN value = 'base' THEN 2 ELSE 0 END", safe="")
        )
        assert ok["count"] >= 1

    def test_limit_validation(self, server):
        url = (
            f"{server.url}/v1/state_at?tablet=tbl&collection=tst&height=100"
        )
        for bad in ("abc", "-1"):
            with pytest.raises(HTTPError) as e:
                _get(f"{url}&limit={bad}")
            assert e.value.code == 400, bad
        # limit=0 is a valid empty page, not an error
        got = _get(f"{url}&limit=0")
        assert got["count"] == 0 and got["truncated"] is True


class TestPointRoutesStartNoSparkJob:
    """/v1/row_at, /v1/singlet_at and /v1/has_rows are answered on the
    driver (Arrow scan of the committed files plus the overlay), so a
    point read starts no Spark job; /v1/state_at still runs on Spark.
    Jobs are counted per route call with the status tracker, in a job
    group of the calling thread."""

    def _jobs(self, engine, server, path, params):
        sc = engine.spark.sparkContext
        bus = sc._jsc.sc().listenerBus()
        group = f"route-{path.rsplit('/', 1)[-1]}"
        sc.setJobGroup(group, path)
        try:
            body, _ctype = server._route(path, params)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()  # job-start events reach the tracker async
        return json.loads(body), sc.statusTracker().getJobIdsForGroup(group)

    def test_point_routes_run_no_job_and_state_at_does(self, engine, server):
        engine.pipeline.process_new_block(
            "b101a", 101, "b100",
            [
                clrow("tbl", 101, "002", "forkA", "b101a"),
                clrow("sgl", 101, "", "s1", "b101a"),
            ],
        )
        body, jobs = self._jobs(
            engine, server, "/v1/row_at",
            {"tablet": "tbl", "height": "101", "key": "001",
             "collection": "tst"},
        )
        assert [r["value"] for r in body["rows"]] == ["base"] and jobs == []
        body, jobs = self._jobs(
            engine, server, "/v1/row_at",
            {"tablet": "tbl", "height": "101", "key": "002"},
        )
        assert [r["value"] for r in body["rows"]] == ["forkA"] and jobs == []
        body, jobs = self._jobs(
            engine, server, "/v1/singlet_at",
            {"singlet": "sgl", "height": "101"},
        )
        assert [r["value"] for r in body["rows"]] == ["s1"] and jobs == []
        for tablet, want in (("tbl", True), ("sgl", True), ("nope", False)):
            body, jobs = self._jobs(
                engine, server, "/v1/has_rows", {"tablet": tablet}
            )
            assert body == {"has_rows": want} and jobs == [], tablet
        body, jobs = self._jobs(
            engine, server, "/v1/state_at", {"tablet": "tbl", "height": "101"}
        )
        assert [r["value"] for r in body["rows"]] == ["base", "forkA"]
        assert len(jobs) >= 1


class TestRetrievalRoutes:
    """/v1/ann_topk and /v1/bm25: the serving endpoint reads the
    STANDING materialized indexes — and keeps answering correctly while
    the maintainer catches the indexes up on an append (the reference
    serves every read through one server facade, fluxdb.go:104-154)."""

    def test_ann_and_bm25_with_maintainer_catchup(self, spark, tmp_path):
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming import retrieval as rt
        from tests.test_retrieval import DOCS1, DOCS2, VECS, doc_rows, vec_rows

        # standing indexes: LSH buckets over a vector store, BM25
        # postings over a document store
        vstore = ChangelogStore(spark, str(tmp_path / "vdb"))
        vstore.write_batch(vec_rows(spark, VECS))
        ann_dest = str(tmp_path / "lsh")
        rt.refresh(
            spark, str(vstore.root), ann_dest,
            rt.lsh_bucket_transform(dim=8), str(tmp_path / "ck_lsh"),
        )
        dstore = ChangelogStore(spark, str(tmp_path / "ddb"))
        dstore.write_batch(doc_rows(spark, DOCS1))
        p_dest, d_dest = str(tmp_path / "postings"), str(tmp_path / "doclen")
        rt.bm25_refresh(
            spark, str(dstore.root), p_dest, d_dest, str(tmp_path / "ck_bm")
        )

        engine = FluxEngine(spark, str(tmp_path / "edb"))
        service = rt.RetrievalService(
            spark,
            ann_dest=ann_dest,
            ann_dim=8,
            bm25_postings_dest=p_dest,
            bm25_doclen_dest=d_dest,
        )
        srv = QueryServer(engine, port=0, retrieval=service)
        try:
            probe = VECS[0]
            got = _get(
                f"{srv.url}/v1/ann_topk?k=3&vector="
                + ",".join(str(x) for x in probe)
            )
            assert 0 < got["count"] <= 3
            want = {
                r.match_id for r in service.ann_topk(probe, k=3).collect()
            }
            assert {r["match_id"] for r in got["rows"]} == want

            got = _get(f"{srv.url}/v1/bm25?terms=quick,fox&k=5")
            hits = {r["doc_id"] for r in got["rows"]}
            assert hits == {0, 1}  # DOCS1 docs containing quick/fox

            # the maintainer catches up on an append WHILE the server is
            # live: new docs become visible with no restart
            dstore.write_batch(doc_rows(spark, DOCS2))
            rt.bm25_refresh(
                spark, str(dstore.root), p_dest, d_dest,
                str(tmp_path / "ck_bm"),
            )
            got = _get(f"{srv.url}/v1/bm25?terms=quick,fox&k=5")
            assert {r["doc_id"] for r in got["rows"]} == {0, 1, 3}

            # hybrid RRF over BOTH standing indexes
            got = _get(
                f"{srv.url}/v1/hybrid?terms=quick,fox&k=5&vector="
                + ",".join(str(x) for x in probe)
            )
            want_rows = service.hybrid(
                ["quick", "fox"], probe, k=5
            ).collect()
            assert [r["doc_id"] for r in got["rows"]] == [
                r.doc_id for r in want_rows
            ]
            assert got["count"] > 0
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/hybrid?terms=quick")  # vector missing
            assert e.value.code == 400

            # parameter validation
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/ann_topk?vector=1.0,nope")
            assert e.value.code == 400
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/bm25?terms=&k=5")
            assert e.value.code == 400
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/bm25?terms=quick&k=0")
            assert e.value.code == 400
        finally:
            srv.close()

    def test_routes_400_when_unconfigured(self, server):
        for q in (
            "ann_topk?vector=1.0",
            "bm25?terms=x",
            "ivf_topk?vector=1.0",
            "neardup?text=x",
        ):
            with pytest.raises(HTTPError) as e:
                _get(f"{server.url}/v1/{q}")
            assert e.value.code == 400

    def test_ivf_and_neardup_routes(self, spark, tmp_path):
        """/v1/ivf_topk (materialized IVF cells + frozen model sidecar)
        and /v1/neardup (materialized signature table) — the remaining
        two standing-index reads on the serving facade."""
        from fluxdb_spark.functions import similarity as sim
        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming import retrieval as rt
        from tests.test_retrieval import DOCS1, VECS, doc_rows, vec_rows

        vstore = ChangelogStore(spark, str(tmp_path / "vdb"))
        vstore.write_batch(vec_rows(spark, VECS))
        kdest = str(tmp_path / "ivf")
        live = rt.lww_latest(
            rt.vector_relation(vstore.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        cents = sim.kmeans_centroids(live, k=3, iters=2)
        rt.refresh(
            spark, str(vstore.root), kdest,
            rt.centroid_assign_transform(cents), str(tmp_path / "ck_k"),
        )
        rt.save_centroids(kdest, cents)

        dstore = ChangelogStore(spark, str(tmp_path / "ddb"))
        dstore.write_batch(doc_rows(spark, DOCS1))
        mdest = str(tmp_path / "sigs")
        rt.refresh(
            spark, str(dstore.root), mdest,
            rt.minhash_transform(), str(tmp_path / "ck_m"),
        )
        qdest = str(tmp_path / "q8")
        rt.refresh(
            spark, str(vstore.root), qdest,
            rt.quantize_transform(), str(tmp_path / "ck_q"),
        )
        pdest = str(tmp_path / "pq")
        books = sim.pq_codebooks(live, m=2, ks=3, iters=2, dim=8)
        rt.refresh(
            spark, str(vstore.root), pdest,
            rt.pq_codes_transform(books, dim=8), str(tmp_path / "ck_p"),
        )
        rt.save_pq_books(pdest, books)
        bindest = str(tmp_path / "bits")
        rt.refresh(
            spark, str(vstore.root), bindest,
            rt.binarize_transform(dim=8), str(tmp_path / "ck_bin"),
        )
        from fluxdb_spark.functions import bpe as bpe_mod

        tdest = str(tmp_path / "toks")
        live_docs = rt.lww_latest(
            rt.doc_relation(dstore.changelog()), ["doc_id"]
        ).select("doc_id", "text")
        bpe_merges = bpe_mod.train_merges(live_docs, n_merges=3)
        rt.save_bpe_merges(tdest, bpe_merges)
        rt.refresh(
            spark, str(dstore.root), tdest,
            rt.bpe_encode_transform(bpe_merges), str(tmp_path / "ck_t"),
        )

        engine = FluxEngine(spark, str(tmp_path / "edb"))
        service = rt.RetrievalService(
            spark,
            kmeans_dest=kdest,
            minhash_dest=mdest,
            quantize_dest=qdest,
            pq_dest=pdest,
            pq_dim=8,
            binary_dest=bindest,
            bpe_dest=tdest,
        )
        srv = QueryServer(engine, port=0, retrieval=service)
        try:
            probe = VECS[0]
            got = _get(
                f"{srv.url}/v1/ivf_topk?k=3&nprobe=3&vector="
                + ",".join(str(x) for x in probe)
            )
            assert got["rows"][0]["match_id"] == 0  # the probe itself
            assert got["count"] == 3

            from urllib.parse import quote

            got = _get(
                f"{srv.url}/v1/neardup?threshold=0.5&text="
                + quote(DOCS1[1])
            )
            assert {r["doc_id"] for r in got["rows"]} >= {1}
            assert got["rows"][0]["est_jaccard"] == 1.0

            # quantized top-k by stored id, over the standing int8 table
            got = _get(f"{srv.url}/v1/quantized_topk?vec_id=0&k=3")
            want = [
                r.match_id
                for r in service.quantized_topk(0, k=3).collect()
            ]
            assert [r["match_id"] for r in got["rows"]] == want
            assert got["count"] == 3

            # PQ ADC top-k of an unseen probe over the standing codes
            got = _get(
                f"{srv.url}/v1/pq_topk?k=3&vector="
                + ",".join(str(x) for x in probe)
            )
            want = [
                r.match_id for r in service.pq_topk(probe, k=3).collect()
            ]
            assert [r["match_id"] for r in got["rows"]] == want
            assert got["count"] == 3

            # binary top-k by stored id: Hamming scan of the standing
            # sign-bit table + int8 rerank from the quantize table
            got = _get(f"{srv.url}/v1/binary_topk?vec_id=0&k=3")
            want = [
                r.match_id
                for r in service.binary_topk(0, k=3).collect()
            ]
            assert [r["match_id"] for r in got["rows"]] == want
            assert got["count"] == 3

            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/ivf_topk?vector=1.0&nprobe=zero")
            assert e.value.code == 400
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/binary_topk?vec_id=abc")
            assert e.value.code == 400

            # frozen-tokenizer service: ad-hoc text encodes exactly like
            # the stored corpus
            got = _get(
                f"{srv.url}/v1/tokenize?text=" + quote(DOCS1[1])
            )
            want = service.tokenize(DOCS1[1]).collect()[0]
            assert got["rows"][0]["tokens"] == want.tokens
            assert got["rows"][0]["n_tokens"] == want.n_tokens
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/tokenize?text=")
            assert e.value.code == 400
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/neardup?text=")
            assert e.value.code == 400
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/quantized_topk?vec_id=abc")
            assert e.value.code == 400
        finally:
            srv.close()


def test_index_retrieval_cli_catches_up(spark, tmp_path, capsys):
    """index-retrieval: one-shot catch-up of a materialized MinHash
    signature table through the CLI, incremental on the second run."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from tests.conftest import make_changelog

    root = str(tmp_path / "dstore")
    dest, ck = str(tmp_path / "sigs"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark,
            [("doc", "docs", 1, "0", "alpha beta gamma delta epsilon zeta")],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "minhash"],
        spark,
    )
    assert rc == 0
    assert "minhash index: 1 derived row(s)" in capsys.readouterr().out
    st.write_batch(
        make_changelog(
            spark,
            [("doc", "docs", 2, "1", "eta theta iota kappa lambda mu nu")],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "minhash", "--compact"],
        spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "minhash index: 2 derived row(s)" in out
    assert "# compacted 1 batch dir(s)" in out


def test_index_retrieval_cli_bm25(spark, tmp_path, capsys):
    """index-retrieval --kind bm25 maintains postings + doclen + cached
    stats in one catch-up pass."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.conftest import make_changelog

    root = str(tmp_path / "bstore")
    dest, ck = str(tmp_path / "postings"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark, [("doc", "docs", 1, "0", "alpha beta gamma alpha")]
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "bm25"],
        spark,
    )
    assert rc == 0
    assert "bm25 index: 1 live doc(s), 4 total tokens" in (
        capsys.readouterr().out
    )
    assert rt.load_bm25_stats(dest + "_doclen") == (1, 4)


def test_index_retrieval_cli_quantize(spark, tmp_path, capsys):
    """index-retrieval --kind quantize maintains the int8-compressed
    vector table as standing state, fold-compacted on request."""
    import json

    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.conftest import make_changelog

    root = str(tmp_path / "qstore")
    dest, ck = str(tmp_path / "q8"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark,
            [
                ("emb", "vecs", 1, "0", json.dumps([0.5, -1.0])),
                ("emb", "vecs", 2, "1", json.dumps([0.25, 0.25])),
            ],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "quantize"],
        spark,
    )
    assert rc == 0
    assert "quantize index: 2 derived row(s)" in capsys.readouterr().out
    qz = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
    got = {r.vec_id: list(r.q8) for r in qz.collect()}
    assert got[0] == [63, -127]  # absmax scale: 0.5/1.0*127 floored
    assert got[1] == [127, 127]


def test_server_cli_serves_reads_with_fork_in_flight(
    spark, tmp_path, capsys, monkeypatch
):
    """server --serve-port: the CLI brings up the read API next to the
    metrics endpoint and proves it with a real HTTP round-trip."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore

    root = str(tmp_path / "sstore")
    st = ChangelogStore(spark, root)
    st.write_batch(
        spark.createDataFrame(
            [clrow("tbl", 1, "001", "v1", "b1", collection="evt")],
            CHANGELOG_SCHEMA,
        )
    )
    rc = main(
        ["server", "--store", root, "--tablet", "tbl", "--height", "1",
         "--serve-port", "0"],
        spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "# serving reads at http://127.0.0.1:" in out
    payload = json.loads(out.strip().splitlines()[-1])
    assert [r["value"] for r in payload["rows"]] == ["v1"]


def test_index_retrieval_cli_pq(spark, tmp_path, capsys):
    """index-retrieval --kind pq: trains codebooks once (sidecar beside
    the dest), encodes the corpus, and a second run reuses the frozen
    model for the delta."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.test_retrieval import VECS, vec_rows

    root = str(tmp_path / "vstore")
    dest, ck = str(tmp_path / "pq"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(vec_rows(spark, VECS))
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "pq", "--dim", "8",
         "--pq-m", "2", "--k", "3", "--iters", "2"],
        spark,
    )
    assert rc == 0
    assert f"pq index: {len(VECS)} derived row(s)" in capsys.readouterr().out
    books = rt.load_pq_books(dest)
    assert books is not None and len(books) == 2
    st.write_batch(vec_rows(spark, {50: [0.5] * 8}, h0=len(VECS)))
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "pq", "--dim", "8",
         "--pq-m", "2", "--k", "3", "--iters", "2", "--compact"],
        spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert f"pq index: {len(VECS) + 1} derived row(s)" in out
    assert rt.load_pq_books(dest) == books  # frozen, not retrained


def test_index_retrieval_cli_binary(spark, tmp_path, capsys):
    """index-retrieval --kind binary maintains the packed sign-bit table
    (the Hamming candidate-scan half of the binary ANN pair)."""
    import json

    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.conftest import make_changelog

    root = str(tmp_path / "bstore")
    dest, ck = str(tmp_path / "bits"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark,
            [
                ("emb", "vecs", 1, "0", json.dumps([0.5, -1.0])),
                ("emb", "vecs", 2, "1", json.dumps([-0.25, 0.25])),
            ],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "binary", "--dim", "2"],
        spark,
    )
    assert rc == 0
    assert "binary index: 2 derived row(s)" in capsys.readouterr().out
    bz = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
    got = {r.vec_id: r.b0 for r in bz.collect()}
    assert got[0] == 0b01  # only dim 0 positive
    assert got[1] == 0b10  # only dim 1 positive


def test_index_retrieval_cli_bpe(spark, tmp_path, capsys):
    """index-retrieval --kind bpe trains the tokenizer once (sidecar
    merge list) and maintains the encoded corpus."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.conftest import make_changelog

    root = str(tmp_path / "tstore")
    dest, ck = str(tmp_path / "toks"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark,
            [
                ("doc", "docs", 1, "0", "low low lower"),
                ("doc", "docs", 2, "1", "slow glow flow"),
            ],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "bpe", "--k", "3"],
        spark,
    )
    assert rc == 0
    assert "bpe index: 2 derived row(s)" in capsys.readouterr().out
    assert rt.load_bpe_merges(dest) is not None
    live = {
        r.doc_id: r.tokens
        for r in rt.lww_latest(
            rt.read_derived(spark, dest), ["doc_id"]
        ).collect()
    }
    assert set(live) == {0, 1}
    assert "</w>" in live[0]


class TestSpansRoute:
    def test_contamination_screen_over_http(self, spark, tmp_path):
        """/v1/spans: the serving-side contamination screen — an unseen
        text's verbatim-overlap ranges against the standing span index,
        catching an append through the maintainer with no restart."""
        from urllib.parse import quote

        from fluxdb_spark.store import ChangelogStore
        from fluxdb_spark.streaming import retrieval as rt
        from tests.test_retrieval import DOCS1, DOCS2, doc_rows

        dstore = ChangelogStore(spark, str(tmp_path / "ddb"))
        dstore.write_batch(doc_rows(spark, DOCS1))
        dest, ck = str(tmp_path / "spans"), str(tmp_path / "ck_spans")
        rt.refresh(
            spark, str(dstore.root), dest, rt.span_hash_transform(), ck
        )
        engine = FluxEngine(spark, str(tmp_path / "edb"))
        service = rt.RetrievalService(spark, spans_dest=dest)
        srv = QueryServer(engine, port=0, retrieval=service)
        try:
            probe = quote(
                "intro words " + DOCS1[0] + " trailing words here"
            )
            got = _get(f"{srv.url}/v1/spans?text={probe}")
            assert got["count"] == 1
            (row,) = got["rows"]
            assert row["span_start"] == 3
            assert row["span_tokens"] >= 8
            got = _get(
                f"{srv.url}/v1/spans?text="
                + quote("zero overlap with anything stored")
            )
            assert got["count"] == 0
            # append while serving: the new doc screens immediately after
            # the maintainer catch-up
            dstore.write_batch(doc_rows(spark, DOCS2))
            rt.refresh(
                spark, str(dstore.root), dest, rt.span_hash_transform(), ck
            )
            newprobe = quote(DOCS2[4])
            got = _get(f"{srv.url}/v1/spans?text={newprobe}")
            assert got["count"] == 1
            with pytest.raises(HTTPError) as e:
                _get(f"{srv.url}/v1/spans?text=")
            assert e.value.code == 400
        finally:
            srv.close()


def test_index_retrieval_cli_spans(spark, tmp_path, capsys):
    """index-retrieval --kind spans maintains the positional shingle-hash
    table (posting-table shape: coalesce-only compaction), and the
    service screens against it."""
    from fluxdb_spark.__main__ import main
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt
    from tests.conftest import make_changelog

    root = str(tmp_path / "dstore")
    dest, ck = str(tmp_path / "spans"), str(tmp_path / "ck")
    st = ChangelogStore(spark, root)
    st.write_batch(
        make_changelog(
            spark,
            [("doc", "docs", 1, "0",
              "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "spans"],
        spark,
    )
    assert rc == 0
    assert "spans index:" in capsys.readouterr().out
    svc = rt.RetrievalService(spark, spans_dest=dest)
    got = svc.spans("alpha beta gamma delta epsilon zeta eta theta").collect()
    assert len(got) == 1 and got[0].span_tokens == 8
    # second run: incremental + coalesce-only compaction
    st.write_batch(
        make_changelog(
            spark,
            [("doc", "docs", 2, "1",
              "one two three four five six seven eight nine ten")],
        )
    )
    rc = main(
        ["index-retrieval", "--store", root, "--dest", dest,
         "--checkpoint", ck, "--kind", "spans", "--compact"],
        spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "# compacted" in out
    got = svc.spans("one two three four five six seven eight").collect()
    assert len(got) == 1
