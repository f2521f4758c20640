"""SignatureStore: near-dup signature state AS a lake table.

What the table format buys the dedup state — exactly-once ingest
(batch-id idempotent, a doubled signature would make later probes
self-match), delta-sized GC by synthesized key, prune-then-re-ingest
LWW correctness (version-derived operation timestamps), and time
travel of the state — plus the probe matching the raw
incremental_neardup_pairs answer bit-for-bit.
"""

import pytest
from pyspark.sql import functions as F

from hudi_spark_plus_spark.functions.dedup import (
    banded_signatures,
    incremental_neardup_pairs,
)
from hudi_spark_plus_spark.functions.signature_store import SignatureStore

pytestmark = pytest.mark.slow  # full-tier suite (see pytest.ini)


def docs(spark, rows):
    """rows: (id, text)"""
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "how vexingly quick daft zebras jump today"),
    (4, "sphinx of black quartz judge my vow"),
]


@pytest.fixture()
def store(spark, tmp_path):
    return SignatureStore(spark, str(tmp_path / "sig"), buckets=4)


class TestStoreLifecycle:
    def test_ingest_probe_matches_raw_functions(self, spark, store):
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        batch = docs(
            spark,
            [(101, CORPUS[0][1]), (102, "a wholly novel document text")],
        )
        got = store.probe(
            batch, corpus, "doc_id", "text", verify_threshold=1.0
        ).collect()
        raw = incremental_neardup_pairs(
            batch, corpus,
            banded_signatures(corpus, "doc_id", "text"),
            "doc_id", "text", verify_threshold=1.0,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, raw))
        assert [(r["new_id"], r["dup_id"]) for r in got] == [(101, 1)]

    def test_ingest_is_exactly_once_per_batch_id(self, spark, store):
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        n = store.state().count()
        store.ingest(corpus, "doc_id", "text", "b1")  # crash replay
        assert store.state().count() == n == 4 * store.bands
        # a doubled state would produce duplicate pair rows here
        batch = docs(spark, [(101, CORPUS[1][1])])
        pairs = store.probe(
            batch, corpus, "doc_id", "text", verify_threshold=1.0
        ).collect()
        assert [(r["new_id"], r["dup_id"]) for r in pairs] == [(101, 2)]

    def test_replayed_ingest_skips_signature_build(
        self, spark, store, monkeypatch
    ):
        """A replayed batch_id returns before the minhash/banding frame
        is built and checkpointed — the merge would drop it anyway."""
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        version = store.table.log.latest().version

        def boom(*args, **kwargs):
            raise AssertionError("replayed ingest built signatures")

        monkeypatch.setattr(store, "_sig_rows", boom)
        store.ingest(corpus, "doc_id", "text", "b1")
        assert store.table.log.latest().version == version

    def test_prune_is_delta_sized_and_stops_matches(self, spark, store):
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        store.prune([2], "gc1")
        live = docs(spark, [r for r in CORPUS if r[0] != 2])
        batch = docs(spark, [(201, CORPUS[1][1]), (202, CORPUS[2][1])])
        pairs = store.probe(
            batch, live, "doc_id", "text", verify_threshold=1.0
        ).collect()
        # the pruned doc 2 must not surface; doc 3's copy still pairs
        assert [(r["new_id"], r["dup_id"]) for r in pairs] == [(202, 3)]
        # GC wrote exactly bands tombstones, not a state rewrite
        assert store.state().count() == 3 * store.bands

    def test_prune_then_reingest_resurrects(self, spark, store):
        """The LWW trap a fixed operation timestamp springs: the
        re-ingest must beat the earlier tombstone."""
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        store.prune([1], "gc1")
        store.ingest(docs(spark, [CORPUS[0]]), "doc_id", "text", "b2")
        batch = docs(spark, [(301, CORPUS[0][1])])
        pairs = store.probe(
            batch, corpus, "doc_id", "text", verify_threshold=1.0
        ).collect()
        assert [(r["new_id"], r["dup_id"]) for r in pairs] == [(301, 1)]

    def test_state_time_travel(self, spark, store):
        corpus = docs(spark, CORPUS)
        store.ingest(corpus, "doc_id", "text", "b1")
        store.prune([1, 3], "gc1")
        assert store.state().count() == 2 * store.bands
        assert store.state(version=1).count() == 4 * store.bands

    def test_param_pinning(self, spark, tmp_path, store):
        with pytest.raises(ValueError, match="created with"):
            SignatureStore(spark, store.table.path, bands=8)
        # same params reopen fine
        again = SignatureStore(spark, store.table.path)
        assert again.bands == store.bands

    def test_param_pin_creation_is_first_writer_wins(self, spark, tmp_path):
        """ADVICE r10 #4: the pin is created with O_EXCL — a second
        creator racing in with different params must hit the verify
        branch against the winner's pin (raise), never overwrite it.
        Simulated by pre-planting the winner's pin file alone (the
        state a loser of the create race observes)."""
        import json, os

        path = str(tmp_path / "race")
        os.makedirs(path)
        with open(os.path.join(path, "_signature_params.json"), "w") as fh:
            json.dump({"k": 64, "bands": 16, "ngram": 3}, fh)
        with pytest.raises(ValueError, match="created with"):
            SignatureStore(spark, path, bands=8)
        s = SignatureStore(spark, path)  # winner's params: fine
        assert s.bands == 16

    def test_integral_id_required(self, spark, store):
        s = spark.createDataFrame([("a", "text")], "doc_id string, text string")
        with pytest.raises(ValueError, match="integral id"):
            store.ingest(s, "doc_id", "text", "bX")

    def test_empty_store_probe(self, spark, store):
        batch = docs(spark, [(1, "anything at all here")])
        empty_corpus = docs(spark, [])
        pairs = store.probe(
            batch, empty_corpus, "doc_id", "text", verify_threshold=1.0
        )
        assert pairs.count() == 0


class TestStreamingNearDup:
    """VERDICT r10 directive 6: the streaming near-dup path composed
    with transactional SignatureStore state — crash-safe exactly-once
    streaming dedup state."""

    def _pipe(self, spark, tmp_path, **kw):
        from hudi_spark_plus_spark.functions.signature_store import (
            StreamingNearDup,
        )

        return StreamingNearDup(
            spark, str(tmp_path / "pipe"), verify_threshold=1.0, **kw
        )

    def test_batch_flow_and_survivor_growth(self, spark, tmp_path):
        pipe = self._pipe(spark, tmp_path)
        corpus = docs(spark, CORPUS)
        pipe.seed(corpus, "doc_id", "text")
        # batch: one dup of corpus doc 1, one fresh doc
        b0 = docs(spark, [(301, CORPUS[0][1]), (302, "totally fresh text")])
        pairs = pipe.process_batch(b0, "doc_id", "text", "b0")
        assert [(r["new_id"], r["dup_id"], r["scope"])
                for r in pairs.collect()] == [(301, 1, "corpus")]
        # batch 2: dup of the batch-0 SURVIVOR (302) — caught by state
        # the pipeline itself grew
        b1 = docs(spark, [(401, "totally fresh text")])
        pairs = pipe.process_batch(b1, "doc_id", "text", "b1")
        assert [(r["new_id"], r["dup_id"], r["scope"])
                for r in pairs.collect()] == [(401, 302, "corpus")]

    def test_replayed_batch_is_a_state_noop(self, spark, tmp_path):
        pipe = self._pipe(spark, tmp_path)
        pipe.seed(docs(spark, CORPUS), "doc_id", "text")
        b0 = docs(spark, [(301, CORPUS[0][1]), (302, "fresh text here")])
        assert pipe.process_batch(b0, "doc_id", "text", "b0") is not None
        sig_n = pipe.store.state().count()
        txt_n = pipe.texts.snapshot().count()
        sig_ver = pipe.store.table.log.latest().version
        # foreachBatch redelivery after a crash: same bid, same data
        assert pipe.process_batch(b0, "doc_id", "text", "b0") is None
        assert pipe.store.state().count() == sig_n
        assert pipe.texts.snapshot().count() == txt_n
        assert pipe.store.table.log.latest().version == sig_ver
        # and the next probe still behaves as if applied exactly once:
        # a dup of survivor 302 pairs against ONE state row, not two
        pairs = pipe.process_batch(
            docs(spark, [(401, "fresh text here")]), "doc_id", "text", "b1"
        )
        assert [(r["new_id"], r["dup_id"]) for r in pairs.collect()] == [
            (401, 302)
        ]

    def test_crash_between_text_and_signature_commit_replays_clean(
        self, spark, tmp_path
    ):
        """The partial-failure window: texts committed, signatures not
        (the signature commit is the batch's commit point). The replay
        must produce the SAME pairs (probe state unchanged; the
        early-committed texts are inert because candidate ids come
        from signatures) and converge to exactly-once state."""
        pipe = self._pipe(spark, tmp_path)
        pipe.seed(docs(spark, CORPUS), "doc_id", "text")
        b0 = docs(spark, [(301, CORPUS[0][1]), (302, "fresh text here")])
        # simulate the crash: apply ONLY the text half of batch b0
        pipe.texts.merge(
            pipe._text_rows(
                docs(spark, [(302, "fresh text here")]), "doc_id", "text"
            ),
            batch_id="b0",
        )
        pairs = pipe.process_batch(b0, "doc_id", "text", "b0")
        assert [(r["new_id"], r["dup_id"], r["scope"])
                for r in pairs.collect()] == [(301, 1, "corpus")]
        # state converged exactly once: 302's text exists ONCE, its
        # signatures exist once
        assert pipe.texts.snapshot().where("id = 302").count() == 1
        assert (
            pipe.store.state().where("id = 302").count() == pipe.store.bands
        )

    def test_prune_clears_both_surfaces(self, spark, tmp_path):
        pipe = self._pipe(spark, tmp_path)
        pipe.seed(docs(spark, CORPUS), "doc_id", "text")
        pipe.prune([1], "gc1")
        assert pipe.store.state().where("id = 1").count() == 0
        assert pipe.texts.snapshot().where("id = 1").count() == 0
        # pruned doc's duplicate now survives (no state to match)
        pairs = pipe.process_batch(
            docs(spark, [(501, CORPUS[0][1])]), "doc_id", "text", "b9"
        )
        assert pairs.collect() == []
