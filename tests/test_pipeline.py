"""Tests for the data-pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_timeseries_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "rapid")),  # near dup of 0
        (3, "completely different content about spark engines and data"),
        (4, "der hund und die katze sind nicht ein mit von zu haus"),
        (5, "el perro y la casa de que en un por con una mesa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[1] = vecs[0] * 1.5  # same direction as 0 → cosine 1
    vecs[2] = vecs[0] + rng.standard_normal(8).astype(np.float32) * 0.01
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_dedup_exact(spark, docs):
    out = dedup.dedup_exact(docs).toPandas()
    assert sorted(out.doc_id) == [0, 2, 3, 4, 5]  # 1 removed as dup of 0


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.dedup_minhash_lsh(docs, threshold=0.5).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got  # exact dup found
    assert (0, 2) in got or (1, 2) in got  # near dup found
    assert not any(3 in p for p in got)


def test_minhash_signature_deterministic(spark, docs):
    s1 = dedup.minhash_signatures(docs, num_hashes=16).orderBy("doc_id").toPandas()
    s2 = dedup.minhash_signatures(docs, num_hashes=16).orderBy("doc_id").toPandas()
    assert s1.sig.apply(tuple).tolist() == s2.sig.apply(tuple).tolist()
    # identical docs → identical signatures
    assert tuple(s1.sig[0]) == tuple(s1.sig[1])


def test_simhash_near_dups(spark, docs):
    sig = dedup.simhash(docs)
    pairs = dedup.simhash_near_dups(sig, max_hamming=6).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got
    assert pairs[(pairs.id_a == 0) & (pairs.id_b == 1)].hamming.iloc[0] == 0


def test_embedding_cosine_dedup(spark, vectors):
    pairs = dedup.dedup_embedding_cosine(
        vectors, dim=8, threshold=0.95, n_planes=6
    ).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got and (0, 2) in got


def test_brute_force_topk_exact(spark, vectors):
    q = vectors.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(vectors, q, k=3).toPandas()
    assert len(out) == 9
    # nearest neighbor of 0 must be 1 (same direction, cosine ≈ 1)
    top0 = out[(out.qid == 0) & (out["rank"] == 1)]
    assert top0.vec_id.iloc[0] == 1
    assert abs(top0.sim.iloc[0] - 1.0) < 1e-6


def test_lsh_topk_recall_on_near_dups(spark, vectors):
    q = vectors.where(F.col("vec_id") == 0)
    out = similarity.lsh_topk(vectors, q, k=3, dim=8, n_planes=4).toPandas()
    # colinear vector 1 hashes to the same bucket by construction
    assert 1 in set(out.vec_id)


def test_ivf_topk_runs(spark, vectors):
    q = vectors.where(F.col("vec_id") < 2)
    out = similarity.ivf_topk(vectors, q, k=3, n_centroids=8, nprobe=4).toPandas()
    assert set(out.qid) == {0, 1}
    assert (out.groupby("qid")["rank"].max() <= 3).all()


def test_language_id(spark, docs):
    out = docs.select("doc_id", text.language_id(F.col("text")).alias("lang")).toPandas()
    by_id = dict(zip(out.doc_id, out.lang))
    assert by_id[0] == "en"
    assert by_id[4] == "de"
    assert by_id[5] == "es"


def test_quality_and_tokens(spark, docs):
    feats = text.quality_features(docs).toPandas().set_index("doc_id")
    assert feats.loc[0, "n_tokens"] == 14
    assert 0 <= feats.loc[0, "stopword_ratio"] <= 1
    q = text.quality_score(docs).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1)).all()
    bpe = docs.select(text.token_count(F.col("text"), bpe=True).alias("n")).toPandas()
    assert (bpe.n > 0).all()


def test_winnowing_fingerprint_stable_under_small_edit(spark, docs):
    fp = text.winnowing_fingerprints(docs, k=5, keep=6).toPandas().set_index("doc_id")
    a, b = set(fp.loc[0, "fingerprints"]), set(fp.loc[2, "fingerprints"])
    c = set(fp.loc[3, "fingerprints"])
    assert len(a & b) > len(a & c)  # near-dup shares more fingerprints


def test_multimodal_fake_decode(spark):
    rows = [(i, bytes([i]) * (100 + i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    meta = multimodal.attach_binary_metadata(df, "media", "img").toPandas()
    assert (meta.media_size == [100, 101, 102, 103, 104]).all()
    feats = multimodal.decode_image_features(df, fake=True).toPandas()
    assert len(feats) == 5 and len(feats.features.iloc[0]) == 16
    # deterministic: same payload → same features
    feats2 = multimodal.decode_image_features(df, fake=True).toPandas()
    assert feats.features.apply(tuple).tolist() == feats2.features.apply(tuple).tolist()
    audio = multimodal.decode_audio_features(df, fake=True).toPandas()
    assert (audio.n_frames >= 1).all()


def test_multimodal_real_decode_raises(spark):
    df = spark.createDataFrame([(0, b"xx")], "doc_id long, media binary")
    if multimodal._PILImage is None:
        with pytest.raises(Exception):
            multimodal.decode_image_features(df, fake=False).collect()
    else:  # pragma: no cover - container has no PIL today
        with pytest.raises(Exception):  # junk bytes are not an image
            multimodal.decode_image_features(df, fake=False).collect()


def test_real_wav_audio_decode(spark):
    """The audio decode path is genuinely REAL for WAV: stdlib wave +
    numpy, no external library. Build a 16-bit mono WAV in memory (silence
    then full-scale square wave), decode through the Spark mapInPandas
    path, and check rate/sample counts and the RMS envelope shape."""
    import io
    import wave as wave_mod

    def make_wav(rate, samples_i16):
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(np.asarray(samples_i16, dtype="<i2").tobytes())
        return buf.getvalue()

    silence = np.zeros(800, dtype=np.int16)
    loud = np.tile([32767, -32767], 400).astype(np.int16)  # full-scale
    payload = make_wav(16000, np.concatenate([silence, loud]))
    df = spark.createDataFrame(
        [(1, payload), (2, make_wav(8000, silence))],
        "doc_id long, media binary",
    )
    out = {
        r.doc_id: r
        for r in multimodal.decode_audio_features(
            df, n_features=4, fake=False
        ).collect()
    }
    assert out[1].sample_rate == 16000 and out[1].n_samples == 1600
    assert out[2].sample_rate == 8000 and out[2].n_samples == 800
    f1 = out[1].features
    # first half silent, second half full-scale: envelope ~[0,0,1,1]
    assert f1[0] < 0.01 and f1[1] < 0.01
    assert f1[2] > 0.95 and f1[3] > 0.95
    assert all(abs(v) < 1e-9 for v in out[2].features)

    # a non-WAV payload surfaces NotImplementedError, not a silent fake
    junk = spark.createDataFrame([(9, b"mp3junk")], "doc_id long, media binary")
    with pytest.raises(Exception, match="(?i)non-wav|NotImplemented"):
        multimodal.decode_audio_features(junk, fake=False).collect()


def test_video_frame_sampling_and_resize_plumbing(spark):
    """sample_video_frames: 1→N explode shape with deterministic frame count
    and digests; resize_image: binary→binary with exact target payload size.
    Real decoders are stubbed — NotImplementedError without fake=True."""
    import hashlib

    from spark_timeseries_spark.pipeline import multimodal as mm

    rows = [(1, b"x" * 300), (2, b"y" * 10), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, media binary")

    frames = mm.sample_video_frames(df, hop_bytes=128, max_frames=8, fake=True)
    pdf = frames.toPandas().sort_values(["doc_id", "frame_idx"])
    # 300//128=2 → 3 frames; 10//128=0 → 1 frame; empty → 1 frame
    assert pdf.groupby("doc_id").size().to_dict() == {1: 3, 2: 1, 3: 1}
    want = hashlib.md5(b"x" * 300 + b"\x02" + b"1").hexdigest()
    assert pdf[(pdf.doc_id == 1) & (pdf.frame_idx == 1)].frame_digest.iloc[0] == want

    resized = mm.resize_image(df, 4, 4, fake=True).toPandas()
    assert set(resized.width) == {4} and set(resized.height) == {4}
    assert all(len(m) == 4 * 4 * 3 for m in resized.media)

    import pytest as _pytest

    with _pytest.raises(Exception):  # NotImplementedError inside the task

        mm.sample_video_frames(df, fake=False).collect()


def test_repetition_features_and_gopher_filter(spark):
    """Gopher repetition gate on crafted docs: a clean doc, a doc with a
    repeated line, a doc dominated by one bigram, and a short doc."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.text import (
        gopher_repetition_filter,
        repetition_features,
    )

    # the clean doc needs realistic length: on tiny docs a single bigram
    # inherently covers >20% of characters and trips the top2 threshold
    clean = "\n".join(
        " ".join(f"word{i}x{j}" for j in range(8)) for i in range(6)
    )
    rows = [
        (1, clean),
        (2, "same line here\nsame line here\nsame line here\nother text"),
        (3, "spam ham " * 30),         # one bigram ("spam ham"/"ham spam") dominates
        (4, "hi"),                      # shorter than any n-gram window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = {
        r.doc_id: r
        for r in repetition_features(df).collect()
    }

    assert feats[1].n_lines == 6 and feats[1].dup_line_ratio == 0.0
    # doc 2: 4 lines, 2 distinct → dup ratio 1 - 2/4; repeated-line chars:
    # 2 extra copies of a 14-char line over 4*14+10 total line chars
    assert feats[2].n_lines == 4
    assert abs(feats[2].dup_line_ratio - 0.5) < 1e-12
    assert abs(feats[2].dup_line_char_ratio - (2 * 14) / (3 * 14 + 10)) < 1e-12
    # doc 3: "spam ham spam ham ...": top bigram covers most characters
    assert feats[3].top2gram_char_ratio > 0.16
    # doc 4: no 2-grams at all → ratio 0, no crash (sequence guard)
    assert feats[4].top2gram_char_ratio == 0.0 and feats[4].dup_line_ratio == 0.0

    keep = {r.doc_id: r.keep for r in gopher_repetition_filter(df).collect()}
    assert keep == {1: True, 2: False, 3: False, 4: True}


def test_repetition_gates_judge_each_document_row(spark):
    """Every per-document gate reads its own row: a NULL id is an ordinary
    document, and two documents sharing an id keep their own repetition
    features and their own compression ratio (a join back on the id
    pooled them, dropped the NULL-id document and the clean twin of a
    repetitive one)."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean
    from spark_timeseries_spark.pipeline.text import repetition_features

    good = " ".join(f"the w{i} of x{i} and y{i}" for i in range(12))
    good2 = "\n".join(f"the v{i} of u{i} and t{i}" for i in range(12))
    rep = "the cat and the dog\n" * 4
    rows = [(None, good), (2, good2), (2, rep)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # features under shared ids equal the features of the same texts under
    # unique ids
    uniq = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "doc_id long, text string"
    )
    want = sorted(
        ((rows[r.doc_id][0],) + tuple(r)[1:]
         for r in repetition_features(uniq).collect()),
        key=repr,
    )
    got = sorted((tuple(r) for r in repetition_features(df).collect()), key=repr)
    assert got == want
    assert sorted(r.n_lines for r in repetition_features(df).collect()
                  if r.doc_id == 2) == [4, 12]

    kept = {r.text for r in pretrain_clean(df, min_quality=0.0).collect()}
    assert kept == {good, good2}

    # compression gate: the templated twin of id 5 goes, the clean one stays
    templated = "the fox " * 40                       # zlib ratio ≈ 0.04
    df2 = spark.createDataFrame(
        [(5, good), (5, templated), (None, good2)], "doc_id long, text string"
    )
    kept2 = {
        r.text
        for r in pretrain_clean(
            df2, min_quality=0.0, rep_thresholds={"top2gram_char_ratio": 10.0},
            min_compression_ratio=0.1,
        ).collect()
    }
    assert kept2 == {good, good2}


def test_clean_gates_plan_no_exchange_or_join(spark):
    """The repetition builders plan no exchange and no join; the default
    clean chain with the compression gate plans exactly one exchange (the
    exact dedup's window), no join and, with ``persist_intermediate``,
    still no cache: nothing downstream reads a frame twice."""
    import re

    from spark_timeseries_spark.pipeline.clean import pretrain_clean
    from spark_timeseries_spark.pipeline.text import (
        gopher_repetition_filter,
        repetition_features,
    )

    df = spark.createDataFrame(
        [(0, "some simple english text for the plan only")],
        "doc_id long, text string",
    )

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    for built in (repetition_features(df), gopher_repetition_filter(df)):
        p = plan(built)
        assert "Exchange" not in p and "Join" not in p, p

    plain = pretrain_clean(df, min_quality=0.0, min_compression_ratio=0.05)
    res = pretrain_clean(
        df, min_quality=0.0, min_compression_ratio=0.05,
        persist_intermediate=True,
    )
    assert res.cached is None
    for built in (plain, res.df):
        p = plan(built)
        assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
        assert "Exchange" not in p.replace("Exchange hashpartitioning", "", 1), p
        assert "Join" not in p and "InMemoryRelation" not in p, p
        assert "ArrowEvalPython" in p


def test_pretrain_clean_cache_handle(spark):
    """r3 VERDICT #6 / ADVICE: with persist_intermediate=True the cache
    comes back as an explicit handle (CleanResult), not a dynamic
    DataFrame attribute. With the default gates every gate is a filter
    on one lineage, so nothing is read twice and nothing is cached
    (``cached`` is None, ``release()`` a no-op); with a rewrite gate the
    survivors are cached until ``release()``."""
    from spark_timeseries_spark.pipeline.clean import CleanResult, pretrain_clean

    clean = "\n".join(
        " ".join(f"the word{i}x{j} and" for j in range(8)) for i in range(6)
    )
    rows = [
        (1, clean),
        (2, clean),                    # exact dup of 1 → dedup keeps one
        (3, "same line here\nsame line here\nsame line here\nother text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    plain = pretrain_clean(df, min_quality=0.0)
    kept_plain = sorted(r.doc_id for r in plain.collect())

    res = pretrain_clean(df, min_quality=0.0, persist_intermediate=True)
    assert isinstance(res, CleanResult)
    kept = sorted(r.doc_id for r in res.df.collect())
    assert kept == kept_plain          # same answer either mode
    assert len(kept) <= 2 and 3 not in kept
    assert res.cached is None
    assert "InMemoryRelation" not in (
        res.df._jdf.queryExecution().optimizedPlan().toString()
    )
    res.release()                      # nothing to release: a no-op

    rw = pretrain_clean(
        df, min_quality=0.0, dedup_paragraph=True, persist_intermediate=True
    )
    assert sorted(r.doc_id for r in rw.df.collect()) == kept_plain
    assert rw.cached.is_cached
    rw.release()
    assert not rw.cached.is_cached

    # context-manager form releases on exit
    with pretrain_clean(
        df, min_quality=0.0, dedup_paragraph=True, persist_intermediate=True
    ) as c:
        assert sorted(r.doc_id for r in c.collect()) == kept_plain


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    """Mixture sampling: same seed → identical keep set across runs; rates
    shape per-stratum keep counts; rate 1.0 keeps everything, 0.0 nothing."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.sampling import stratified_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    kept1 = stratified_sample(df, {"a": 1.0, "b": 0.25}, seed=3)
    kept2 = stratified_sample(df, {"a": 1.0, "b": 0.25}, seed=3)
    ids1 = sorted(r.doc_id for r in kept1.collect())
    ids2 = sorted(r.doc_id for r in kept2.collect())
    assert ids1 == ids2                      # reproducible
    by_src = {r.source: r["count"] for r in kept1.groupBy("source").count().collect()}
    assert by_src["a"] == 1000               # rate 1.0 keeps all
    assert 150 < by_src.get("b", 0) < 350    # ~0.25 of 1000

    none = stratified_sample(df, {}, default_rate=0.0, seed=3)
    assert none.count() == 0
    other_seed = sorted(
        r.doc_id for r in stratified_sample(df, {"a": 1.0, "b": 0.25}, seed=4).collect()
    )
    assert other_seed != ids1                # seed draws a different sample


def test_scrub_pii_redacts_in_order(spark):
    from spark_timeseries_spark.pipeline.text import scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "server 10.0.255.7 answered"),
        (3, "call +1 (555) 010-4477 now"),
        (4, "clean text with no identifiers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in scrub_pii(df).collect()}
    assert got[1] == "mail me at [email] today"
    assert got[2] == "server [ipv4] answered"
    assert got[3] == "call [phone] now"
    assert got[4] == "clean text with no identifiers"


def test_scrub_pii_spares_dates_and_ids(spark):
    """r3 VERDICT #1: the phone pattern must be phone-SHAPED — dates,
    ISO timestamps, year ranges, ISBNs, and bare numeric ID runs are
    corpus content, not PII, and must survive the scrub byte-identical."""
    from spark_timeseries_spark.pipeline.text import scrub_pii

    rows = [
        (1, "released 2024-01-01 12:30 UTC"),
        (2, "active 2010 - 2019 and 2020-2024"),
        (3, "ISBN 978-0-306-40615-7 shelf 40615"),
        (4, "order 123456789012 shipped 2024-12-31T23:59:59"),
        (5, "call 555-123-4567 or +44 20 7946 0958"),
        (6, "call (555) 123-4567 ext 9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in scrub_pii(df).collect()}
    assert got[1] == "released 2024-01-01 12:30 UTC"
    assert got[2] == "active 2010 - 2019 and 2020-2024"
    assert got[3] == "ISBN 978-0-306-40615-7 shelf 40615"
    assert got[4] == "order 123456789012 shipped 2024-12-31T23:59:59"
    assert got[5] == "call [phone] or [phone]"
    assert got[6] == "call [phone] ext 9"


def test_connected_components_nonconvergence_is_loud(spark):
    """r3 VERDICT #3: a duplicate chain longer than max_iter must NOT
    silently return partial labels — default raises; warn-mode surfaces a
    RuntimeWarning and returns the (under-merged but valid-subset)
    labels."""
    import warnings

    import pytest

    from spark_timeseries_spark.pipeline.dedup import connected_components

    # path graph 0-1-2-...-9: diameter 9 > max_iter=2
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = connected_components(chain, max_iter=2, on_nonconverged="warn")
        got = {r.id: r.component for r in labels.collect()}
        labels.unpersist()
    assert any("did not converge" in str(x.message) for x in w)
    # partial labels are a refinement: every label is a true-component member
    assert all(comp <= i for i, comp in got.items())

    # and a chain that fits inside max_iter converges silently to one root
    ok = connected_components(chain, max_iter=15)
    full = {r.id: r.component for r in ok.collect()}
    ok.unpersist()
    assert set(full.values()) == {0}


def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """The driver-local label propagation (taken when the edge list fits
    under DRIVER_EDGE_ROWS) returns identical labels to the cluster loop —
    same components, same round-bounded nonconvergence behavior."""
    import pytest

    import spark_timeseries_spark.pipeline.dedup as dd
    import spark_timeseries_spark.pipeline.graph as graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 30)],
        "id_a long, id_b long",
    )
    local = {r.id: r.component
             for r in dd.connected_components(pairs).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", 0)
    dist_df = dd.connected_components(pairs)
    dist = {r.id: r.component for r in dist_df.collect()}
    dist_df.unpersist()
    assert local == dist
    assert set(local.values()) == {1, 10, 20, 30}

    # nonconvergence raises identically on both paths
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=2)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=2)


@pytest.mark.parametrize("edge_rows", [None, 0], ids=["driver_local", "distributed"])
def test_nonconvergence_warning_points_at_the_callers_line(
    spark, monkeypatch, caplog, edge_rows
):
    """Both connected_components paths report nonconvergence through one
    helper; in warn mode the RuntimeWarning names the line that called
    connected_components, not a line inside the library, and the same
    message is logged once as a WARNING record on the dedup module's
    logger."""
    import logging
    import warnings

    import spark_timeseries_spark.pipeline.dedup as dd
    import spark_timeseries_spark.pipeline.graph as graph

    if edge_rows is not None:
        monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", edge_rows)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w, caplog.at_level(
        logging.WARNING, logger=dd.__name__
    ):
        warnings.simplefilter("always")
        labels = dd.connected_components(chain, max_iter=2, on_nonconverged="warn")
        labels.unpersist()
    loud = [x for x in w if "did not converge" in str(x.message)]
    assert [x.category for x in loud] == [RuntimeWarning]
    assert loud[0].filename == __file__
    records = [r for r in caplog.records if r.name == dd.__name__]
    assert [r.levelno for r in records] == [logging.WARNING]
    assert records[0].getMessage() == str(loud[0].message)


def test_graph_paths_drop_null_id_pairs(spark, monkeypatch):
    """A pair with a NULL id is dropped before the driver-local size gate,
    so connected_components and pagerank return the same NULL-free output
    on the driver-local path and on the distributed loop."""
    import spark_timeseries_spark.pipeline.dedup as dd
    import spark_timeseries_spark.pipeline.graph as graph

    pairs = spark.createDataFrame(
        [(1, None), (1, 2), (3, 4)], "id_a long, id_b long"
    )

    def run():
        comp = dd.connected_components(pairs)
        got = (
            sorted((r.id, r.component) for r in comp.collect()),
            sorted((r.id, r.pr_int) for r in graph.pagerank(pairs).collect()),
        )
        comp.unpersist()
        return got

    local = run()
    monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", 0)
    assert run() == local
    comps, ranks = local
    assert comps == [(1, 1), (2, 1), (3, 3), (4, 3)]
    assert [i for i, _ in ranks] == [1, 2, 3, 4]


def test_connected_components_and_representatives(spark):
    """A~B, B~C chain is ONE cluster even though A~C never paired; the
    representative keep drops everything but the min id per cluster."""
    from spark_timeseries_spark.pipeline.dedup import (
        connected_components,
        keep_cluster_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 5, 7, 9, 20, 21)],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in keep_cluster_representatives(docs, pairs).collect()
    )
    assert kept == [1, 5, 7, 20]


def test_gopher_quality_rules(spark):
    """Published non-repetition Gopher bounds on crafted docs."""
    from spark_timeseries_spark.pipeline.text import (
        gopher_quality_features,
        gopher_quality_filter,
    )

    good = " ".join(
        f"the quality of and that have with be to word{i}" for i in range(8)
    )
    rows = [
        (1, good),                                   # passes everything
        (2, "short text"),                           # < 50 words
        (3, "- a\n- b\n- c\n- d\n" + good),          # bullets but under 0.9 ratio? 4 bullet lines / 5 lines = 0.8 → keep
        (4, " ".join("12345" for _ in range(60))),   # no alpha words, no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = {r.doc_id: r for r in gopher_quality_features(df).collect()}
    assert feats[1].n_words == 80 and feats[1].n_gopher_stopwords == 8
    assert feats[4].alpha_word_ratio == 0.0
    keep = {r.doc_id: r.keep for r in gopher_quality_filter(df).collect()}
    assert keep == {1: True, 2: False, 3: True, 4: False}


def test_decontamination_flags_and_drop(spark):
    """A doc sharing an 8-gram with the probe set is contaminated; disjoint
    docs are kept; the probe docs themselves flag (they trivially share)."""
    from spark_timeseries_spark.pipeline.text import (
        contamination_flags,
        decontaminate,
    )

    bench = "the capital of france is paris and everyone knows it"
    rows = [
        (1, "intro text then " + bench + " plus trailing words here"),
        (2, "completely unrelated content about spark query planning stuff"),
        (3, bench),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = spark.createDataFrame([(99, bench)], "doc_id long, text string")
    flags = {
        r.doc_id: r.contaminated
        for r in contamination_flags(docs, probes, n=8).collect()
    }
    assert flags == {1: True, 2: False, 3: True}
    kept = sorted(r.doc_id for r in decontaminate(docs, probes, n=8).collect())
    assert kept == [2]


def test_pack_sequences_concat_then_chunk(spark):
    """Packing must reproduce the single-stream layout: offsets are the
    exact running sum of (tokens + sep) in (stratum, id) order, seq_id is
    offset // seq_len, and the layout is identical across runs and
    partition counts (determinism = data-derived order)."""
    from spark_timeseries_spark.pipeline.packing import pack_sequences

    rows = [
        (1, "a", "one two three"),          # 3 tokens
        (2, "a", "four five"),              # 2
        (3, "a", "x " * 6),                 # 6
        (10, "b", "alpha"),                 # 1
        (11, "b", "beta gamma delta"),      # 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, seq_len=5, sep_tokens=1, bpe=False)
    got = {r.doc_id: r for r in out.collect()}

    # stream: a/1 (3+1) a/2 (2+1) a/3 (6+1) b/10 (1+1) b/11 (3+1)
    assert [got[i].offset for i in (1, 2, 3, 10, 11)] == [0, 4, 7, 14, 16]
    assert [got[i].seq_id for i in (1, 2, 3, 10, 11)] == [0, 0, 1, 2, 3]
    assert got[3].n_seqs_spanned == 2   # tokens 7..13 cross the 10 boundary
    assert got[1].n_tokens == 3 and got[11].n_tokens == 3

    # repartitioning the input must not change the layout
    out2 = pack_sequences(df.repartition(7), seq_len=5, sep_tokens=1, bpe=False)
    assert sorted((r.doc_id, r.offset) for r in out2.collect()) == sorted(
        (r.doc_id, r.offset) for r in out.collect()
    )


def test_pack_sequences_plan_is_distributed(spark):
    """No single-partition global sort: the running sum ranks within
    deterministic buckets and composes broadcast offsets (the same shape
    pinned for union_index_df)."""
    from spark_timeseries_spark.pipeline.packing import pack_sequences

    rows = [(i, "s", "w " * (i % 5 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, seq_len=16, bpe=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(stratum" in plan, plan
    assert "rangepartitioning" not in plan, plan
    # correctness: offsets are the exact prefix sums in id order
    recs = sorted(out.collect(), key=lambda r: r.doc_id)
    run = 0
    for r in recs:
        assert r.offset == run, (r.doc_id, r.offset, run)
        run += r.n_tokens + 1


def test_split_dataset_deterministic_partition(spark):
    from spark_timeseries_spark.pipeline.packing import split_dataset

    df = spark.createDataFrame(
        [(i,) for i in range(4000)], "doc_id long"
    )
    out = split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=5)
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}     # full coverage, no None
    assert 3000 < counts["train"] < 3450
    assert 250 < counts["val"] < 550 and 250 < counts["test"] < 550
    # reproducible assignment, disjoint by construction
    again = split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=5)
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in again.collect()}
    assert a == b
    # remainder → None label
    part = split_dataset(df, {"train": 0.5}, seed=5)
    got = {r.split for r in part.select("split").distinct().collect()}
    assert got == {"train", None}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_dataset(df, {"a": 0.9, "b": 0.2})


def test_normalize_text(spark):
    from spark_timeseries_spark.pipeline.text import normalize_text

    rows = [
        (1, "a\x00b\x07c"),                       # control chars → spaces
        (2, "line1\r\nline2\rline3"),             # CRLF / CR → LF
        (3, "  a \t b  \n\n\n\n c  "),            # runs + blank stack + trim
        (4, "MiXeD"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in normalize_text(df).collect()}
    assert got[1] == "a b c"
    assert got[2] == "line1\nline2\nline3"
    assert got[3] == "a b\n\n c"
    assert got[4] == "MiXeD"
    low = {r.doc_id: r.text for r in normalize_text(df, lowercase=True).collect()}
    assert low[4] == "mixed"


def test_remove_boilerplate_lines(spark):
    """C4-style rule: a line in ≥ min_docs distinct docs disappears from
    every doc; unique lines survive in order; non-text columns ride along;
    a fully-boilerplate doc comes back empty rather than dropped."""
    from spark_timeseries_spark.pipeline.text import remove_boilerplate_lines

    footer = "Subscribe to our newsletter"
    rows = [
        (1, "s1", f"alpha one\n{footer}\nbeta one"),
        (2, "s1", f"alpha two\n{footer.upper()}\ngamma two"),   # case-folds
        (3, "s2", f"{footer}\ndelta three"),
        (4, "s2", footer),                                      # only boilerplate
        (5, "s2", "unique single line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in remove_boilerplate_lines(df, min_docs=3).collect()}
    assert out[1].text == "alpha one\nbeta one"
    assert out[2].text == "alpha two\ngamma two"
    assert out[3].text == "delta three"
    assert out[4].text == ""                      # survived, emptied
    assert out[5].text == "unique single line"
    assert out[2].source == "s1"                  # columns preserved
    # footer is in 4 docs: a threshold of 5 leaves everything untouched
    out2 = {r.doc_id: r.text for r in remove_boilerplate_lines(df, min_docs=5).collect()}
    assert out2[1] == rows[0][2]


def test_chunk_documents_layout(spark):
    """Chunk k covers tokens [k*stride, k*stride + chunk); last chunk is
    the remainder; short docs give exactly one chunk; overlap tokens are
    shared between neighbors."""
    from spark_timeseries_spark.pipeline.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))     # 10 tokens
    rows = [(1, words), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap=1, id_col="doc_id")
    got = {(r.doc_id, r.chunk_id): r for r in out.collect()}

    # doc 1: stride 3 → chunks at 0,3,6 cover all 10 tokens; a 4th chunk
    # at 9 would add no unseen token (chunk 2 already ends at token 9)
    d1 = sorted(k[1] for k in got if k[0] == 1)
    assert d1 == [0, 1, 2]
    assert got[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert got[(1, 1)].chunk_text == "w3 w4 w5 w6"
    assert got[(1, 2)].chunk_text == "w6 w7 w8 w9" and got[(1, 2)].n_tokens == 4
    assert got[(2, 0)].chunk_text == "a b c" and got[(2, 0)].n_tokens == 3
    assert (2, 1) not in got
    assert got[(3, 0)].chunk_text == "" and got[(3, 0)].n_tokens == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_bigram_lm_hand_computed(spark):
    """Add-1 bigram LM on a 2-doc reference, scored by hand.

    Reference: "a b a b" and "a c" → bigrams {(a,b):2, (b,a):1, (a,c):1},
    contexts {a:3, b:1}, V=3. Scoring "a b c" under it:
      P(b|a) = (2+1)/(3+3) = 1/2 ;  P(c|b) = (0+1)/(1+3) = 1/4
      CE = -(ln .5 + ln .25)/2 ;  unseen context "z q": P = (0+1)/(0+3).
    """
    import math

    from spark_timeseries_spark.pipeline.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )
    lm = train_bigram_lm(ref)
    assert lm.vocab_size == 3
    c2 = {(r.ctx, r.w): r.c2 for r in lm.counts.collect()}
    assert c2 == {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}
    c1 = {r.ctx: r.c1 for r in lm.context_counts.collect()}
    assert c1 == {"a": 3, "b": 1}

    tgt = spark.createDataFrame(
        [(10, "a b c"), (11, "z q"), (12, "one"), (13, "   ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in score_perplexity(tgt, lm).collect()}
    want_10 = -(math.log(3 / 6) + math.log(1 / 4)) / 2
    assert abs(out[10].cross_entropy - want_10) < 1e-12
    assert out[10].n_bigrams == 2
    assert abs(out[10].perplexity - math.exp(want_10)) < 1e-12
    # unseen context → uniform 1/V
    assert abs(out[11].cross_entropy - (-math.log(1 / 3))) < 1e-12
    # <2 tokens: no bigram evidence, excluded by contract
    assert 12 not in out and 13 not in out


def test_perplexity_buckets_partition(spark):
    """head/middle/tail cover every scored row and respect the ordering:
    max(head ppl) <= min(middle ppl) <= ... on distinct-valued data."""
    from spark_timeseries_spark.pipeline.lm import (
        perplexity_buckets,
        score_perplexity,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(3)],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "the lazy dog sleeps"),
         (2, "lorem ipsum dolor sit amet"), (3, "over the lazy dog"),
         (4, "zz yy xx ww vv"), (5, "the quick quick quick")],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(ref)
    scored = perplexity_buckets(score_perplexity(tgt, lm))
    rows = scored.collect()
    assert {r.ppl_bucket for r in rows} <= {"head", "middle", "tail"}
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.perplexity)
    order = [b for b in ("head", "middle", "tail") if b in by_bucket]
    for lo_b, hi_b in zip(order, order[1:]):
        assert max(by_bucket[lo_b]) <= min(by_bucket[hi_b])


def test_bigram_lm_empty_vocab_raises(spark):
    import pytest as _pytest

    from spark_timeseries_spark.pipeline.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    ref = spark.createDataFrame([(1, "  ")], "doc_id long, text string")
    lm = train_bigram_lm(ref)
    with _pytest.raises(ValueError):
        score_perplexity(ref, lm)


def test_bm25_hand_computed(spark):
    """BM25 on a 3-doc corpus, cross-checked against a direct numpy
    evaluation of the Lucene-idf formula."""
    import math

    from spark_timeseries_spark.pipeline.search import bm25_search

    corpus = [
        (1, "spark shuffles data across the cluster"),
        (2, "spark spark spark caching"),
        (3, "postgres stores data on one node"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = bm25_search(df, "spark data", k=3)
    got = {(r.query_id, r.doc_id): r for r in out.collect()}

    N, avgdl = 3, (6 + 4 + 6) / 3
    tfs = {1: {"spark": 1, "data": 1}, 2: {"spark": 3}, 3: {"data": 1}}
    dls = {1: 6, 2: 4, 3: 6}
    dfreq = {"spark": 2, "data": 2}

    def score(doc):
        s = 0.0
        for t, tf in tfs[doc].items():
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dls[doc] / avgdl))
        return s

    for doc in (1, 2, 3):
        assert abs(got[("q", doc)].score - score(doc)) < 1e-12, doc
    ranked = sorted(
        (1, 2, 3), key=lambda d: (-score(d), d)
    )
    for want_rank, doc in enumerate(ranked, start=1):
        assert got[("q", doc)].rank == want_rank


def test_bm25_multi_query_and_determinism_knob(spark):
    from spark_timeseries_spark.pipeline.search import bm25_search

    df = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "beta gamma") for i in range(20)],
        "doc_id long, text string",
    )
    out = bm25_search(
        df, {"a": "alpha", "g": "gamma"}, k=5, round_digits=6
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {"a", "g"}
    for rows in by_q.values():
        assert len(rows) == 5
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        # identical texts → identical quantized scores → doc_id tie-break
        docs = [r.doc_id for r in sorted(rows, key=lambda r: r.rank)]
        assert docs == sorted(docs)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(df, {"empty": "   "})


def test_bm25_plan_filters_before_shuffle(spark):
    """The exploded term stream must hit the broadcast query-term join
    before any Exchange — the inverted-index semantics that make this
    viable at corpus scale."""
    from spark_timeseries_spark.pipeline.search import bm25_search

    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(50)],
        "doc_id long, text string",
    )
    plan = (
        bm25_search(df, "alpha", k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    gen = plan.find("Generate explode")
    part = plan.find("partial_count")
    assert gen != -1 and part != -1 and part < gen
    # children print below parents: between the partial tf-aggregate and
    # the explode that feeds it there must be the broadcast query-term join
    # and NO shuffle — i.e. the full vocabulary never reaches an Exchange
    seg = plan[part:gen]
    assert "BroadcastHashJoin" in seg, seg
    assert "Exchange hashpartitioning" not in seg, seg


def test_tf_idf_values(spark):
    import math

    from spark_timeseries_spark.pipeline.search import tf_idf

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {(r.doc_id, r.term): r for r in tf_idf(df).collect()}
    assert got[(1, "a")].tf == 2 and got[(1, "a")].df == 2
    assert abs(got[(1, "a")].tfidf - 2 * math.log(2 / 2)) < 1e-12
    assert abs(got[(1, "b")].tfidf - 1 * math.log(2 / 1)) < 1e-12
    # min_df prunes hapaxes
    pruned = tf_idf(df, min_df=2)
    assert {r.term for r in pruned.collect()} == {"a"}


def test_duplicated_span_stats_hand_computed(spark):
    """Two docs share the run 'c1 c2 c3 c4 c5' (5 tokens); with n=3 the
    shared 3-grams are starts 1..3 of the run — coverage merges the
    overlapping spans into exactly the 5 shared positions."""
    from spark_timeseries_spark.pipeline.dedup import duplicated_span_stats

    shared = "c1 c2 c3 c4 c5"
    rows = [
        (1, f"a1 a2 {shared} a3 a4"),          # 9 tokens, shared at 3..7
        (2, f"{shared} b1 b2 b3 b4 b5"),        # 10 tokens, shared at 1..5
        (3, "z1 z2 z3 z4 z5 z6"),               # clean
        (4, "x"),                                # shorter than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_span_stats(df, n=3).collect()}

    assert out[1].n_tokens == 9 and out[1].dup_tokens == 5
    assert abs(out[1].dup_token_ratio - 5 / 9) < 1e-12
    assert out[2].n_tokens == 10 and out[2].dup_tokens == 5
    assert out[3].dup_tokens == 0 and out[3].dup_token_ratio == 0.0
    # doc shorter than n: present, zero coverage
    assert out[4].n_tokens == 1 and out[4].dup_tokens == 0


def test_duplicated_spans_within_doc_repeat_not_counted(spark):
    """min_docs=2 counts CROSS-document duplication only: a doc repeating
    its own 3-gram twice is not flagged (that is gopher_repetition's job)."""
    from spark_timeseries_spark.pipeline.dedup import duplicated_span_stats

    df = spark.createDataFrame(
        [(1, "r1 r2 r3 q1 r1 r2 r3"), (2, "u1 u2 u3 u4")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in duplicated_span_stats(df, n=3).collect()}
    assert out[1].dup_tokens == 0 and out[2].dup_tokens == 0


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: after a few Lloyd iterations every point
    must be assigned with its blob-mates, and centroids must sit near the
    blob means."""
    import numpy as np

    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.default_rng(7)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    pts = np.concatenate(
        [c + rng.standard_normal((20, 4)) * 0.3 for c in centers]
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = kmeans_fit(df, k=3, max_iter=6)
    out = kmeans_assign(df, model).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r.vec_id // 20, set()).add(r.cid)
    # each blob maps to exactly one cluster, and the three differ
    assert all(len(cids) == 1 for cids in by_blob.values()), by_blob
    assert len({next(iter(c)) for c in by_blob.values()}) == 3
    got_centers = sorted(
        np.round(c, 0).tolist() for c in model.centroids
    )
    assert got_centers == sorted(c.tolist() for c in centers)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """k larger than the number of distinct locations: some clusters get no
    points; their centroids must persist (no NaNs, no dropped cids)."""
    from spark_timeseries_spark.pipeline.clustering import kmeans_fit

    rows = [(i, [0.0, 0.0]) for i in range(3)] + [(i, [5.0, 5.0]) for i in range(3, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = kmeans_fit(df, k=4, max_iter=3)
    assert len(model.centroids) == 4
    assert all(all(np.isfinite(x) for x in c) for c in model.centroids)


def test_semantic_dedup_pairs_within_cluster_only(spark):
    """A planted near-duplicate pair inside one blob is found; points from
    different blobs are never compared (no cross-blob pair can appear even
    at threshold 0)."""
    import numpy as np

    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_fit,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(3)
    a = rng.standard_normal(6) + np.array([20, 0, 0, 0, 0, 0])
    blob1 = [a + rng.standard_normal(6) * 0.01 for _ in range(2)]  # near-dups
    blob1 += [np.array([20.0, 0, 0, 0, 0, 5]) + rng.standard_normal(6)
              for _ in range(8)]
    blob2 = [np.array([0, 0, 0, 0, 0, -20.0]) + rng.standard_normal(6)
             for _ in range(10)]
    pts = blob1 + blob2
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = kmeans_fit(df, k=2, max_iter=5)
    pairs = semantic_dedup_pairs(df, model, threshold=0.999).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 1)}
    # cross-cluster pairs are structurally impossible
    all_pairs = semantic_dedup_pairs(df, model, threshold=-1.0).collect()
    assign = {r.id_a for r in all_pairs} | {r.id_b for r in all_pairs}
    for p in all_pairs:
        assert (p.id_a < 10) == (p.id_b < 10), p

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans_fit(df.limit(1), k=2)


def test_semantic_dedup_hot_cluster_subsplit(spark):
    """Degenerate one-cluster corpus (k=1): ``max_cluster_size`` sub-splits
    the hot cluster by hyperplane signature so the worst join bucket is
    bounded below the cluster size, a planted near-identical pair is still
    found (cosine LSH co-buckets it), precision is unaffected (every
    emitted pair re-verifies ≥ threshold), and ``max_bucket_size`` gives
    the hard worst-bucket guarantee: pairs ≤ buckets · C(cap, 2)."""
    import numpy as np

    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_fit,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(7)
    n, dim = 120, 8
    pts = [rng.standard_normal(dim) for _ in range(n)]
    pts[1] = pts[0] + rng.standard_normal(dim) * 1e-4  # planted near-dup
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = kmeans_fit(df, k=1, max_iter=1)  # everything in one cluster

    # un-split baseline: the whole corpus is ONE quadratic bucket
    base = semantic_dedup_pairs(df, model, threshold=-1.0).collect()
    assert len(base) == n * (n - 1) // 2

    # sub-split: worst (cid, sub) bucket strictly below the cluster size,
    # so the candidate pair count drops well under the quadratic baseline
    split = semantic_dedup_pairs(
        df, model, threshold=-1.0, max_cluster_size=50, n_subplanes=4
    ).collect()
    assert 0 < len(split) < len(base) / 2
    # the near-identical planted pair survives the split (cosine LSH)
    found = semantic_dedup_pairs(
        df, model, threshold=0.999, max_cluster_size=50, n_subplanes=4
    ).collect()
    assert {(p.id_a, p.id_b) for p in found} == {(0, 1)}
    # precision: every emitted pair is genuinely within-threshold
    for p in found:
        assert p.sim >= 0.999

    # clusters under the bound are NOT split: identical output to baseline
    nosplit = semantic_dedup_pairs(
        df, model, threshold=-1.0, max_cluster_size=n
    ).collect()
    assert {(p.id_a, p.id_b) for p in nosplit} == {
        (p.id_a, p.id_b) for p in base
    }

    # hard cap: worst-bucket pair count provably bounded even when the
    # corpus is adversarial (all-identical vectors defeat any hyperplane)
    same = [(i, [1.0] * dim) for i in range(n)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    model2 = kmeans_fit(df2, k=1, max_iter=1)
    cap = 10
    capped = semantic_dedup_pairs(
        df2,
        model2,
        threshold=-1.0,
        max_cluster_size=20,
        n_subplanes=4,
        max_bucket_size=cap,
    ).collect()
    assert len(capped) <= (2**4) * cap * (cap - 1) // 2


def test_mixture_epochs_repeat_factors(spark):
    """Upsampling: weight w emits floor(w)/ceil(w) copies hash-decided,
    epoch indexes the copies, weight 0 drops the stratum, and the whole
    plan is shuffle-free (row-local CASE + hash + explode)."""
    from spark_timeseries_spark.pipeline.sampling import mixture_epochs

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = mixture_epochs(df, {"a": 2.0, "b": 0.5, "c": 0.0}, seed=1)
    per = {r.source: r for r in out.groupBy("source").agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id").alias("docs"),
        F.max("epoch").alias("max_epoch"),
        F.min("epoch").alias("min_epoch"),
    ).collect()}
    assert per["a"].rows == 2000 and per["a"].docs == 1000   # exactly 2 copies
    assert per["a"].max_epoch == 1 and per["a"].min_epoch == 0
    assert 350 < per["b"].rows < 650 and per["b"].max_epoch == 0
    assert "c" not in per                                    # weight 0 drops
    assert per["d"].rows == 1000                             # default weight 1

    frac = mixture_epochs(df.where("source = 'a'"), {"a": 2.5}, seed=1)
    copies = frac.groupBy("doc_id").count().collect()
    assert all(r["count"] in (2, 3) for r in copies)
    mean = sum(r["count"] for r in copies) / len(copies)
    assert 2.3 < mean < 2.7                                  # ≈ 2.5 epochs

    # reproducible, and row-local: no Exchange anywhere in the plan
    again = mixture_epochs(df, {"a": 2.0, "b": 0.5, "c": 0.0}, seed=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    with pytest.raises(ValueError):
        mixture_epochs(df, {"a": -1.0})


def test_build_vocab_ranking(spark):
    """(cnt DESC, token ASC) ranking with min_count and max_size gates,
    0-based contiguous token ids."""
    from spark_timeseries_spark.pipeline.vocab import build_vocab

    rows = [
        (0, "apple apple apple banana banana cherry"),
        (1, "banana apple date Apple"),  # lowercased: apple x2 more
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    v = build_vocab(df, max_size=3, min_count=2).collect()
    assert [(r.token_id, r.token, r.cnt) for r in v] == [
        (0, "apple", 5),
        (1, "banana", 3),
    ]  # cherry/date fail min_count; ids contiguous from 0

    tie = spark.createDataFrame([(0, "zz aa zz aa")], "doc_id long, text string")
    t = build_vocab(tie, max_size=10, min_count=1).collect()
    assert [r.token for r in t] == ["aa", "zz"]  # count tie → alphabetical


def test_oov_rate_hand_computed(spark):
    from spark_timeseries_spark.pipeline.vocab import oov_rate

    docs = spark.createDataFrame(
        [(0, "apple banana cherry apple"), (1, "date elder"), (2, "   ")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("apple",), ("banana",)], "token string")
    out = {r.doc_id: r for r in oov_rate(docs, vocab).collect()}
    assert (out[0].n_tokens, out[0].n_oov) == (4, 1)         # cherry OOV
    assert abs(out[0].oov_rate - 0.25) < 1e-12
    assert (out[1].n_tokens, out[1].n_oov) == (2, 2)
    assert out[1].oov_rate == 1.0
    assert (out[2].n_tokens, out[2].n_oov) == (0, 0)         # blank doc
    assert out[2].oov_rate is None                           # NULL, not NaN/0


def test_linear_score_hand_computed(spark):
    from spark_timeseries_spark.pipeline.classifier import linear_score

    docs = spark.createDataFrame(
        [(0, "good good bad"), (1, "nothing matches here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in linear_score(
        docs, {"good": 1.0, "bad": -2.0}, bias=0.0
    ).collect()}
    # margin = (2/3)(1) + (1/3)(-2) = 0 → score 0.5 → keep at threshold
    assert abs(out[0].margin) < 1e-12 and abs(out[0].score - 0.5) < 1e-12
    assert out[0].keep is True
    # no lexicon hit → sigmoid(bias) exactly
    assert out[1].margin == 0.0 and out[1].keep is True


def test_train_logreg_matches_numpy(spark):
    """The distributed trainer replays a dense numpy batch-GD exactly:
    same features, same update rule → same weights to fp noise."""
    import math

    from spark_timeseries_spark.pipeline.classifier import (
        linear_score,
        train_logreg,
    )

    rows = [
        (0, "spam spam offer", 1.0),
        (1, "offer spam free spam", 1.0),
        (2, "meeting notes agenda", 0.0),
        (3, "agenda for the meeting", 0.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y double")
    toks = sorted({t for _, s, _ in rows for t in s.split()})
    vocab = spark.createDataFrame([(t,) for t in toks], "token string")

    model = train_logreg(df, "y", vocab, max_iter=4, lr=2.0)

    X = np.zeros((len(rows), len(toks)))
    y = np.array([r[2] for r in rows])
    for i, (_, s, _) in enumerate(rows):
        words = s.split()
        for w in words:
            X[i, toks.index(w)] += 1.0 / len(words)
    wv, b = np.zeros(len(toks)), 0.0
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ wv + b)))
        err = p - y
        wv -= 2.0 * (X.T @ err) / len(rows)
        b -= 2.0 * err.mean()
    got = np.array([model.weights.get(t, 0.0) for t in toks])
    assert np.allclose(got, wv, atol=1e-9)
    assert abs(model.bias - b) < 1e-9

    # and the fitted model separates the training set
    pred = {r.doc_id: r.keep for r in linear_score(
        df, model.weights, bias=model.bias
    ).collect()}
    assert pred[0] and pred[1] and not pred[2] and not pred[3]


def test_remove_dup_spans_keep_first_policy(spark):
    """Keep-one-copy: the canonical (min doc_id) occurrence survives, every
    other copy is cut — including multiple copies inside one non-canonical
    doc; clean docs and too-short docs pass through unchanged."""
    from spark_timeseries_spark.pipeline.dedup import remove_dup_spans

    rows = [
        (0, "a b c d x y z w q r"),
        (1, "p q a b c d r s t u"),
        (2, "a b c d a b c d m n"),        # two copies, both non-canonical
        (3, "completely unrelated words here now ok fine yes sure thing"),
        (4, "tiny doc"),                    # shorter than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_dup_spans(df, n=4).collect()}
    assert out[0].clean_text == "a b c d x y z w q r"      # canonical intact
    assert out[0].removed_tokens == 0
    assert out[1].clean_text == "p q r s t u"
    assert out[1].removed_tokens == 4
    assert out[2].clean_text == "m n" and out[2].removed_tokens == 8
    assert out[3].removed_tokens == 0 and out[4].removed_tokens == 0
    assert out[4].clean_text == "tiny doc"

    # keep_first=False removes every copy, canonical included
    all_cut = {r.doc_id: r for r in
               remove_dup_spans(df, n=4, keep_first=False).collect()}
    assert all_cut[0].clean_text == "x y z w q r"
    assert all_cut[0].removed_tokens == 4


def test_remove_dup_spans_merges_overlaps_and_keeps_case(spark):
    """Overlapping duplicated grams merge into one cut (no double count),
    hashes are case-insensitive but the rebuilt text keeps original case."""
    from spark_timeseries_spark.pipeline.dedup import remove_dup_spans

    rows = [
        (0, "a b c d e f tail0 one two three"),   # 3 overlapping dup 4-grams
        (1, "A B C D E F tail1 four five six"),   # upper-case copy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_dup_spans(df, n=4).collect()}
    assert out[0].clean_text == "a b c d e f tail0 one two three"
    assert out[1].clean_text == "tail1 four five six"       # merged 1..6 cut
    assert out[1].removed_tokens == 6
    # intra-doc repetition alone is NOT cross-document duplication
    solo = spark.createDataFrame(
        [(0, "x y z w x y z w pad pad")], "doc_id long, text string"
    )
    s = remove_dup_spans(solo, n=4).collect()[0]
    assert s.removed_tokens == 0


def test_lsh_hot_bucket_cap(spark):
    """cap_bucket_size guards the quadratic blow-up: a template slammed
    into the corpus 30x would emit ~30² pairs per band; with the cap those
    buckets drop entirely while normal near-dup pairs keep their
    candidates. The count rides the join's own (band, bh) partitioning —
    no extra exchange beyond it."""
    from spark_timeseries_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, "spam template body repeated verbatim everywhere forever x y")
            for i in range(30)]
    rows += [(100, base), (101, base.replace("quick", "rapid"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df)

    uncapped = minhash_lsh_candidates(sigs)
    assert uncapped.where("id_a < 100").count() == 30 * 29 // 2  # the blow-up
    capped = minhash_lsh_candidates(sigs, max_bucket_size=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}  # template pairs gone, real near-dup kept


def test_ivf_build_probe_matches_inline(spark, vectors, tmp_path):
    """A persisted IVF index (build-once / probe-many) returns exactly the
    inline ivf_topk results under the same centroid scheme, the on-disk
    lists are partitioned by cid (the probe-time pruning layout), and the
    probed scan reads the partition column as a partition, not data."""
    import os

    from spark_timeseries_spark.pipeline.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
    )

    path = str(tmp_path / "ivf")
    ivf_build(vectors, path, n_centroids=4)
    assert any(d.startswith("cid=") for d in os.listdir(path + "/lists"))

    queries = vectors.where("vec_id < 4")
    got = ivf_probe(spark, path, queries, k=3, nprobe=2)
    want = ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2)
    key = lambda df: sorted(  # noqa: E731
        (r.qid, r.vec_id, r.rank, round(r.sim, 9)) for r in df.collect()
    )
    assert key(got) == key(want)


def test_pq_encode_matches_numpy(spark, vectors):
    """PQ codes replay a dense numpy argmin per subspace exactly (same
    codebooks, same tie-break), and the ADC ranking puts the colinear
    near-duplicate of vector 0 at rank 1."""
    from spark_timeseries_spark.pipeline.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    model = pq_train(vectors, dim=8, m=2, k=4, max_iter=3)
    assert len(model.codebooks) == 2
    assert all(len(b) == 4 and len(b[0]) == 4 for b in model.codebooks)

    codes = pq_encode(vectors, model)
    got = {r.vec_id: list(r.codes) for r in codes.collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in vectors.collect()}
    books = [np.array(b) for b in model.codebooks]
    for vid, v in vecs.items():
        want = [int(np.argmin(((books[s] - v[s * 4:(s + 1) * 4]) ** 2)
                              .sum(axis=1))) for s in range(2)]
        assert got[vid] == want, vid

    # vector 2 is vector 0 + tiny noise → shares 0's codes, so ADC must
    # rank it (or the colinear copy 1) first among 0's neighbors
    top = pq_adc_topk(codes, model, vectors.where("vec_id = 0"), k=3)
    first = top.orderBy("rank").first()
    assert first.vec_id in (1, 2)

    with pytest.raises(ValueError):
        pq_train(vectors, dim=8, m=3)


def test_pq_train_jobs_keep_the_callers_job_group(spark, vectors):
    """pq_train's subspace fits run on pool threads; under pinned-thread
    mode each owns a fresh JVM thread, so the caller's job group reaches
    their jobs only through ``inheritable_thread_target``."""
    from spark_timeseries_spark.pipeline.pq import pq_train

    sc = spark.sparkContext
    group = "pq-train-job-group"
    sc.setJobGroup(group, "pq_train under a caller job group")
    try:
        pq_train(vectors, dim=8, m=2, k=4, max_iter=2)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_pq_train_parallel_matches_sequential(spark, vectors):
    """pq_train fits its subspaces from concurrent threads; the codebooks
    must equal exactly what per-subspace kmeans_fit calls produce
    sequentially (same slicing, same init, same iteration count)."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.clustering import kmeans_fit
    from spark_timeseries_spark.pipeline.pq import pq_train

    model = pq_train(vectors, dim=8, m=2, k=4, max_iter=3)
    for s in range(2):
        sliced = vectors.select(
            F.col("vec_id"),
            F.slice(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                s * 4 + 1,
                4,
            ).alias("embedding"),
        )
        ref = kmeans_fit(sliced, k=4, max_iter=3)
        assert model.codebooks[s] == ref.centroids, s


def test_pq_encode_plan_is_row_local(spark, vectors):
    """Encoding must be a pure scan-stage transform: literal codebooks,
    HOF argmin, no shuffle, no UDF."""
    from spark_timeseries_spark.pipeline.pq import pq_encode, PQModel

    model = PQModel(
        dim=8, m=2, k=2,
        codebooks=[[[0.0] * 4, [1.0] * 4], [[0.0] * 4, [-1.0] * 4]],
    )
    p = pq_encode(vectors, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Python" not in p


def test_phrase_blocklist_modes_and_boundaries(spark):
    from spark_timeseries_spark.pipeline.text import phrase_blocklist

    rows = [
        (0, "a perfectly clean document about data"),
        (1, "contains the BADWORD here"),            # case-insensitive hit
        (2, "superbadwordish is not a hit"),         # word boundary holds
        (3, "the class keyword is fine"),            # 'ass' ⊄ 'class'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in
            phrase_blocklist(df, ["badword", "ass"]).collect()}
    assert kept == {0, 2, 3}

    flagged = {r.doc_id: (r.blocked, r.n_blocked) for r in
               phrase_blocklist(df, ["badword", "ass"], mode="flag").collect()}
    assert flagged[1] == (True, 1) and flagged[0] == (False, 0)
    # plan is a pure filter / projection — no shuffle, no join
    p = phrase_blocklist(df, ["badword"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p

    with pytest.raises(ValueError):
        phrase_blocklist(df, [])


def test_url_stats_and_domain_blocklist(spark):
    from spark_timeseries_spark.pipeline.text import domain_blocklist, url_stats

    rows = [
        (0, "see https://good.example.com/page and http://Other.ORG/x?q=1"),
        (1, "links to https://spam.bad.site/download twice "
            "https://spam.bad.site/again"),
        (2, "no links at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in url_stats(df).collect()}
    assert stats[0].n_urls == 2
    assert stats[0].domains == ["good.example.com", "other.org"]
    assert stats[1].n_urls == 2 and stats[1].domains == ["spam.bad.site"]
    assert stats[2].n_urls == 0 and stats[2].domains == []

    kept = {r.doc_id for r in domain_blocklist(df, ["SPAM.bad.site"]).collect()}
    assert kept == {0, 2}
    p = domain_blocklist(df, ["x.y"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p


def test_ivfpq_topk_composes(spark, vectors):
    """IVF-PQ: the pruned+compressed search still surfaces the colinear
    near-duplicates of vector 0, agrees with flat ADC when probing is
    exhaustive, and scans fewer candidates when it is not."""
    from spark_timeseries_spark.pipeline.pq import (
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    model = pq_train(vectors, dim=8, m=2, k=4, max_iter=3)
    q = vectors.where("vec_id = 0")

    # exhaustive probing (nprobe = n_centroids) == flat ADC
    full = ivfpq_topk(vectors, q, model, k=3, n_centroids=4, nprobe=4)
    flat = pq_adc_topk(pq_encode(vectors, model), model, q, k=3)
    key = lambda df: [(r.qid, r.vec_id, r.rank) for r in  # noqa: E731
                      df.orderBy("qid", "rank").collect()]
    assert key(full) == key(flat)

    # pruned probing still finds a colinear near-dup of 0 at rank 1
    pruned = ivfpq_topk(vectors, q, model, k=3, n_centroids=4, nprobe=2)
    assert pruned.orderBy("rank").first().vec_id in (1, 2)


def test_model_persistence_roundtrips(spark, vectors, tmp_path):
    """k-means / PQ / logreg models round-trip through their JSON sidecars
    bit-exactly: reloaded models produce identical assignments, codes, and
    scores (training once, scoring in later jobs)."""
    from spark_timeseries_spark.pipeline import models_io as mio
    from spark_timeseries_spark.pipeline.classifier import (
        LogRegModel,
        linear_score,
    )
    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from spark_timeseries_spark.pipeline.pq import pq_encode, pq_train

    km = kmeans_fit(vectors, k=3, max_iter=2)
    mio.save_kmeans(km, str(tmp_path / "km.json"))
    km2 = mio.load_kmeans(str(tmp_path / "km.json"))
    assert km2.centroids == km.centroids
    a1 = {(r.vec_id, r.cid) for r in kmeans_assign(vectors, km).collect()}
    a2 = {(r.vec_id, r.cid) for r in kmeans_assign(vectors, km2).collect()}
    assert a1 == a2

    pq = pq_train(vectors, dim=8, m=2, k=4, max_iter=2)
    mio.save_pq(pq, str(tmp_path / "pq.json"))
    pq2 = mio.load_pq(str(tmp_path / "pq.json"))
    assert pq2.codebooks == pq.codebooks
    c1 = {(r.vec_id, tuple(r.codes)) for r in pq_encode(vectors, pq).collect()}
    c2 = {(r.vec_id, tuple(r.codes)) for r in pq_encode(vectors, pq2).collect()}
    assert c1 == c2

    lr = LogRegModel(weights={"alpha": 0.5, "beta": -1.25}, bias=0.125,
                     n_iter=3)
    mio.save_logreg(lr, str(tmp_path / "lr.json"))
    lr2 = mio.load_logreg(str(tmp_path / "lr.json"))
    assert lr2 == lr
    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    s1 = linear_score(docs, lr.weights, bias=lr.bias).first()
    s2 = linear_score(docs, lr2.weights, bias=lr2.bias).first()
    assert s1.score == s2.score

    with pytest.raises(ValueError):
        mio.load_pq(str(tmp_path / "km.json"))

    from spark_timeseries_spark.pipeline.bpe import BPEModel

    bm = BPEModel(merges=[("e", "s"), ("es", "t")], pair_counts=[9, 9])
    mio.save_bpe(bm, str(tmp_path / "bpe.json"))
    bm2 = mio.load_bpe(str(tmp_path / "bpe.json"))
    assert bm2.merges == bm.merges and bm2.pair_counts == bm.pair_counts


def test_dedup_paragraphs_keep_first(spark):
    """Corpus-wide paragraph dedup: a repeated paragraph survives only at
    its smallest (doc, position); intra-doc repeats collapse too; blank
    docs still get a row; paragraph order is preserved on rebuild."""
    from spark_timeseries_spark.pipeline.dedup import dedup_paragraphs

    shared = "this paragraph appears everywhere"
    rows = [
        (0, f"unique zero\n\n{shared}\n\ntail zero"),
        (1, f"{shared}\n\nunique one"),
        (2, f"{shared}\n\nmiddle two\n\n{shared}"),   # two copies in one doc
        (3, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_paragraphs(df).collect()}
    assert out[0].text == f"unique zero\n\n{shared}\n\ntail zero"
    assert out[0].removed_paras == 0                  # doc 0 holds the first
    assert out[1].text == "unique one" and out[1].removed_paras == 1
    assert out[2].text == "middle two" and out[2].removed_paras == 2
    assert out[3].text == "" and out[3].n_paras == 0


def test_compression_ratio_signal(spark):
    """Repetitive text compresses far better than high-entropy text; the
    ratio is exactly reproducible against local zlib, and the plan stays
    a single Arrow-batched projection (no shuffle)."""
    import zlib

    from spark_timeseries_spark.pipeline.text import compression_ratio

    rep = "spam " * 200
    import random

    rng = random.Random(7)
    noise = "".join(chr(rng.randint(33, 126)) for _ in range(1000))
    df = spark.createDataFrame(
        [(0, rep), (1, noise), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in compression_ratio(df).collect()}
    assert out[0].compression_ratio < 0.05 < out[1].compression_ratio
    assert out[1].zlib_bytes == len(zlib.compress(noise.encode(), 6))
    assert out[2].raw_bytes == 0 and out[2].compression_ratio is None
    p = compression_ratio(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "ArrowEvalPython" in p


def test_phrase_blocklist_regex_metachars(spark):
    """Phrases are literal-escaped: regex metacharacters must match
    themselves, and symbol-final phrases work with word_boundary=False
    (\\b needs a word char inside — documented caveat)."""
    from spark_timeseries_spark.pipeline.text import phrase_blocklist

    rows = [
        (0, "uses a.b here"),
        (1, "uses aXb here"),        # '.' must NOT act as a wildcard
        (2, "loves c++ a lot"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in phrase_blocklist(df, ["a.b"]).collect()}
    assert kept == {1, 2}
    kept2 = {r.doc_id for r in
             phrase_blocklist(df, ["c++"], word_boundary=False).collect()}
    assert kept2 == {0, 1}


def test_pretrain_clean_optional_gates(spark):
    """The defaults-off hygiene gates compose into the clean chain: a
    blocked phrase, a blocked domain, and a near-pure-repetition doc are
    each dropped; the default call is unchanged (gates off)."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    good = ("the quick brown fox jumps over the lazy dog and then walks to "
            "the old stone house by the quiet river bank early in the day")
    rows = [
        (0, good),
        (1, good + " contains the badstuff token"),
        (2, good + " see https://spam.site/x"),
        (3, "the fox " * 40),                       # zlib ratio ≈ 0.04
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {r.doc_id for r in
            pretrain_clean(df, min_quality=0.2,
                           rep_thresholds={"top2gram_char_ratio": 10.0}
                           ).select("doc_id").collect()}
    assert base == {0, 1, 2, 3}                    # gates off → all survive
    gated = {r.doc_id for r in
             pretrain_clean(
                 df, min_quality=0.2,
                 rep_thresholds={"top2gram_char_ratio": 10.0},
                 blocklist=["badstuff"],
                 blocked_domains=["spam.site"],
                 min_compression_ratio=0.1,
             ).select("doc_id").collect()}
    assert gated == {0}


def test_pretrain_clean_rewrite_gates(spark):
    """The dedup-rewrite stages compose into the clean chain: with
    ``dedup_paragraph=True`` a paragraph shared by two surviving docs is
    cut from the later one; with ``remove_span_grams`` a cross-document
    duplicated token span is cut from the non-canonical doc; the final
    exact dedup then operates on the REWRITTEN text (two docs identical
    after the paragraph cut collapse to one)."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    footer = ("please subscribe to the newsletter for more updates about "
              "the village and its people every single week")
    body0 = ("the quick brown fox jumps over the lazy dog and then walks "
             "to the old stone house by the quiet river bank early")
    body1 = ("a calm grey cat sits near the warm fire and watches the "
             "slow rain fall outside the small wooden window all night")
    rows = [
        (0, body0 + "\n\n" + footer),
        (1, body1 + "\n\n" + footer),
        (2, body1),      # every paragraph canonical elsewhere → rebuilds ''
        (3, footer),     # likewise '' — and then digest-collides with doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_quality=0.0, rep_thresholds={"top2gram_char_ratio": 10.0})

    out = {r.doc_id: r.text
           for r in pretrain_clean(df, dedup_paragraph=True, **kw).collect()}
    # first occurrences win: doc 0 keeps the footer, doc 1 loses it; docs
    # 2 and 3 rebuild to '' and the exact dedup — running on the REWRITTEN
    # text — collapses them to the smaller id
    assert footer in out[0]
    assert out[1] == body1
    assert out[2] == "" and 3 not in out

    # span removal: the 10-token duplicated run is cut from doc 1 (doc 0
    # is canonical), rebuilt text is single-space joined
    span = "one two three four five six seven eight nine ten"
    rows2 = [(0, body0 + " " + span), (1, body1 + " " + span)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {r.doc_id: r.text
            for r in pretrain_clean(df2, remove_span_grams=10, **kw).collect()}
    assert span in out2[0]
    assert out2[1] == body1


def test_pretrain_clean_rewrite_plan_budget(spark):
    """Shuffle pin for the fully-composed chain (repetition gate +
    paragraph dedup + span removal + exact dedup) in its RECOMMENDED
    at-scale form (``persist_intermediate=True``, which also caches the
    survivor frame the rewrite stages scan repeatedly): no range
    partitioning (no global sorts), no cartesian products, and the
    exchange count stays within the documented budget of the composed
    stages — without the survivor cache the same chain measures >100
    exchanges (every rewrite-internal consumer re-runs the gate joins)."""
    import re

    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    df = spark.createDataFrame(
        [(0, "some simple english text for the plan only")],
        "doc_id long, text string",
    )
    res = pretrain_clean(
        df,
        min_quality=0.0,
        dedup_paragraph=True,
        remove_span_grams=8,
        persist_intermediate=True,
    )
    def _exchanges_outside_cache(p):
        # the tree printout inlines the cached relation's child plan at
        # every scan site — count only exchanges the query itself runs,
        # skipping subtrees rooted at InMemoryRelation
        n, skip = 0, None
        for line in p.splitlines():
            m = re.search(r"[+:]- ", line)
            indent = m.start() if m else -1
            if skip is not None:
                if indent > skip:
                    continue
                skip = None
            if "InMemoryRelation" in line:
                skip = indent
                continue
            if re.search(r"Exchange (hash|range)partitioning", line):
                n += 1
        return n

    try:
        p = res.df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p
        assert "Exchange rangepartitioning" not in p
        assert "InMemoryTableScan" in p  # the survivor cache is wired in
        # documented budget per stage over the CACHED survivors:
        # paragraph dedup (canon groupBy, join back, rebuild groupBy,
        # counts join) + span removal (gram groupBy, occurrence window,
        # segs groupBy, rebuild join) + exact dedup + rewrite joins;
        # measures 24 today — the pin catches a consumer-multiplication
        # regression (uncached form measures >100)
        n = _exchanges_outside_cache(p)
        assert n <= 30, f"{n} exchanges outside the cache:\n{p}"
        assert res.cached is not None
    finally:
        res.release()


def test_mixture_coin_independent_of_sampler(spark):
    """The fractional-epoch coin must be independent of the samplers'
    keep/drop hash at EQUAL seeds: survivors of a rate-0.5 sample given
    weight 1.5 must average ~1.5 epochs, not 2.0 (the correlated-stream
    failure: every survivor's bucket < 500000 would win the extra-copy
    coin too)."""
    from spark_timeseries_spark.pipeline.sampling import (
        deterministic_sample,
        mixture_epochs,
    )

    df = spark.createDataFrame(
        [(i, "a") for i in range(4000)], "doc_id long, source string"
    )
    kept = deterministic_sample(df, 0.5, seed=0)
    n_kept = kept.count()
    rows = mixture_epochs(kept, {"a": 1.5}, seed=0).count()
    mean = rows / n_kept
    assert 1.4 < mean < 1.6, mean


def test_blocked_all_pairs_rejects_string_ids(spark):
    from spark_timeseries_spark.pipeline.similarity import (
        blocked_all_pairs_cosine,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="integral"):
        blocked_all_pairs_cosine(df, 0.9)


def test_pq_recall_on_near_dups(spark, vectors):
    """The exact-L2 ground-truth ranker agrees with numpy, and ADC recall
    against it is perfect when PQ codes separate the data (vector 0's
    near-dups share its codes and dominate its exact top-k)."""
    from spark_timeseries_spark.pipeline.pq import (
        exact_l2_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in vectors.collect()}
    exact = exact_l2_topk(vectors, vectors.where("vec_id = 0"), k=3)
    got = [r.vec_id for r in exact.orderBy("rank").collect()]
    d = sorted(
        ((np.sum((v - vecs[0]) ** 2), i) for i, v in vecs.items() if i != 0)
    )
    assert got == [i for _, i in d[:3]]

    model = pq_train(vectors, dim=8, m=2, k=4, max_iter=3)
    adc = pq_adc_topk(pq_encode(vectors, model), model,
                      vectors.where("vec_id = 0"), k=3)
    hits = {r.vec_id for r in adc.collect()} & set(got)
    assert len(hits) >= 1  # the coded near-dup family overlaps ground truth


def test_pack_sequences_boundary_span_and_id_guard(spark):
    """A doc ending exactly on a sequence boundary spans only its own
    sequences (the trailing separator must not add a phantom one), and
    non-integral ids are rejected eagerly."""
    from spark_timeseries_spark.pipeline.packing import pack_sequences

    df = spark.createDataFrame(
        [(0, "a", "w " * 10), (1, "a", "w " * 3)],
        "doc_id long, source string, text string",
    )
    out = {r.doc_id: r for r in pack_sequences(
        df, seq_len=10, sep_tokens=1, bpe=False
    ).collect()}
    assert out[0].n_seqs_spanned == 1            # own tokens end at index 9
    assert out[1].offset == 11 and out[1].n_seqs_spanned == 1

    sdf = spark.createDataFrame(
        [("x", "a", "w w")], "doc_id string, source string, text string"
    )
    with pytest.raises(ValueError, match="integral"):
        pack_sequences(sdf)


def test_pack_sequences_epoch_copies(spark):
    """mixture_epochs output (duplicate ids disambiguated by ``epoch``)
    packs deterministically: the epoch column joins the ordering and the
    output, per-copy offsets are stable across runs, and the offsets are
    the exact prefix sums of the (id, epoch)-ordered stream. Duplicate
    ids WITHOUT an epoch column fail loudly at execution."""
    from pyspark.errors import SparkRuntimeException

    from spark_timeseries_spark.pipeline.packing import pack_sequences

    rows = [(i, e, "s", "w " * (i % 4 + 2)) for i in range(40)
            for e in range(i % 3 + 1)]
    df = spark.createDataFrame(
        rows, "doc_id long, epoch int, source string, text string"
    )
    out = pack_sequences(df, seq_len=16, bpe=False)
    assert "epoch" in out.columns
    recs = sorted(out.collect(), key=lambda r: (r.doc_id, r.epoch))
    run = 0
    for r in recs:
        assert r.offset == run, (r.doc_id, r.epoch, r.offset, run)
        run += r.n_tokens + 1
    again = sorted(pack_sequences(df, seq_len=16, bpe=False).collect(),
                   key=lambda r: (r.doc_id, r.epoch))
    assert [(r.doc_id, r.epoch, r.offset) for r in recs] == \
           [(r.doc_id, r.epoch, r.offset) for r in again]

    dup = spark.createDataFrame(
        [(7, "s", "w w w"), (7, "s", "w w")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(SparkRuntimeException, match="duplicate id"):
        pack_sequences(dup, seq_len=16, bpe=False).collect()


def test_minhash_band_validation(spark):
    """bands·rows_per_band exceeding the signature length fails fast on
    the driver (out-of-range sig indices would silently collapse band
    hashes into hot buckets); degenerate band shapes are rejected too."""
    from spark_timeseries_spark.pipeline.dedup import (
        dedup_minhash_lsh,
        minhash_lsh_candidates,
    )

    sig = spark.createDataFrame([(0, [1, 2])], "doc_id long, sig array<bigint>")
    with pytest.raises(ValueError, match="exceeds the signature length"):
        minhash_lsh_candidates(sig, bands=4, rows_per_band=4, num_hashes=8)
    with pytest.raises(ValueError, match="must be >= 1"):
        minhash_lsh_candidates(sig, bands=0, rows_per_band=4)
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        dedup_minhash_lsh(docs, num_hashes=8, bands=16)


def test_split_dataset_thirds_cover_every_bucket(spark):
    """Fractions summing to exactly 1 must assign EVERY id: per-split
    rounding of three 1/3s left bucket 999999 split-less."""
    from spark_timeseries_spark.pipeline.packing import split_dataset

    df = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    out = split_dataset(df, {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}, seed=1)
    assert out.where("split IS NULL").count() == 0
    assert out.count() == 5000


def test_quality_blank_text_scores_zero(spark):
    """Blank/whitespace-only text reports 0 tokens and quality 0 — the
    token_count blank guard propagated to the quality surfaces (it was
    fixed for counting but the [\"\"]→1 bug lived on here)."""
    from spark_timeseries_spark.pipeline.text import (
        quality_features,
        quality_score,
    )

    df = spark.createDataFrame(
        [(0, "   "), (1, "a real sentence with the usual words in it")],
        "doc_id long, text string",
    )
    feats = {r.doc_id: r for r in quality_features(df).collect()}
    assert feats[0].n_tokens == 0 and feats[0].mean_token_len is None
    q = {r.doc_id: r.quality for r in quality_score(df).collect()}
    assert q[0] == 0.0 and q[1] > 0.0


def test_dedup_lines_ccnet_semantics(spark):
    """Line-level dedup: a line in >= min_docs DISTINCT docs keeps only
    its corpus-first occurrence (or none with keep_first=False); lines
    below the threshold keep ALL occurrences — including intra-document
    repeats (unlike the paragraph operator); blank docs survive with 0
    lines."""
    from spark_timeseries_spark.pipeline.dedup import dedup_lines

    rows = [
        (0, "alpha line\nshared line\nalpha line"),  # intra-doc repeat, 1 doc
        (1, "beta line\nshared line"),
        (2, "shared line\ngamma line"),
        (3, "   \n  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(df, min_docs=2).collect()}
    # 'shared line' is in 3 docs -> first occurrence is (0, idx 1)
    assert out[0].text == "alpha line\nshared line\nalpha line"
    assert out[0].removed_lines == 0
    assert out[1].text == "beta line" and out[1].removed_lines == 1
    assert out[2].text == "gamma line" and out[2].removed_lines == 1
    assert out[3].text == "" and out[3].n_lines == 0

    nofirst = {r.doc_id: r
               for r in dedup_lines(df, min_docs=2, keep_first=False).collect()}
    assert nofirst[0].text == "alpha line\nalpha line"
    assert nofirst[0].removed_lines == 1


def test_containment_verify_subset_detection(spark):
    """Containment catches embedding: B = A + extra text has
    containment_a ~ 1.0 while Jaccard is well below; the threshold keeps
    a pair when EITHER direction qualifies."""
    from spark_timeseries_spark.pipeline.dedup import containment_verify

    a = "one two three four five six"
    b = a + " seven eight nine ten eleven twelve thirteen fourteen"
    rows = [(0, a), (1, b), (2, "totally different words here now then")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(0, 1), (0, 2)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r
           for r in containment_verify(df, cand, shingle_n=3).collect()}
    r01 = out[(0, 1)]
    assert r01.containment_a == 1.0          # A fully inside B
    assert r01.containment_b < 0.5
    assert r01.jaccard < 0.5
    assert out[(0, 2)].containment_a == 0.0
    kept = containment_verify(df, cand, shingle_n=3, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in kept} == {(0, 1)}

    # the corpus-wide count-based variant agrees with the array-based
    # verifier on every surviving pair (same algebra, no array join)
    from spark_timeseries_spark.pipeline.dedup import ngram_containment_pairs

    allp = {(r.id_a, r.id_b): r
            for r in ngram_containment_pairs(df, shingle_n=3,
                                             threshold=0.9).collect()}
    assert set(allp) == {(0, 1)}
    assert allp[(0, 1)].containment_a == 1.0
    assert abs(allp[(0, 1)].jaccard - r01.jaccard) < 1e-12


def test_incremental_dedup_exact_and_lsh(spark):
    """Incremental ingest: new docs whose digest exists in the old corpus
    are dropped, in-batch dups keep the first id, genuinely new docs pass;
    the cross-corpus LSH banding surfaces old~new near-dup candidates
    without the O(n^2) self-join of re-deduplicating the union."""
    from spark_timeseries_spark.pipeline.dedup import (
        dedup_exact_incremental,
        minhash_cross_candidates,
        minhash_signatures,
    )

    old = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "an entirely separate document about rivers and stones")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "The quick  brown fox jumps over the lazy dog today"),  # = 0
         (11, "a brand new document that matches nothing at all"),
         (12, "a brand new document that matches nothing at all"),    # batch dup
         (13, "the quick brown fox jumps over the lazy dog yesterday")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id
                  for r in dedup_exact_incremental(new, old).collect())
    assert kept == [11, 13]

    sig_old = minhash_signatures(old, num_hashes=32)
    sig_new = minhash_signatures(new, num_hashes=32)
    cand = minhash_cross_candidates(
        sig_new, sig_old, bands=8, rows_per_band=4, num_hashes=32
    ).collect()
    pairs = {(r.id_new, r.id_old) for r in cand}
    assert (10, 0) in pairs and (13, 0) in pairs     # near-dups of old 0
    assert not any(o == 1 for (_, o) in pairs)       # nothing matches old 1
    with pytest.raises(ValueError, match="exceeds"):
        minhash_cross_candidates(sig_new, sig_old, bands=16, rows_per_band=4,
                                 num_hashes=32)


def test_zipf_slope_closed_form(spark):
    """The OLS moments reproduce numpy's polyfit on a constructed corpus
    whose token frequencies are exactly Zipfian (freq = 600/rank ->
    slope -1, r2 1); a uniform-frequency stratum yields slope 0 with
    NULL r2 (zero response variance — the conventional undefined case,
    not a masking 1.0)."""
    import numpy as np

    from spark_timeseries_spark.pipeline.vocab import zipf_slope

    words = []
    for rank in range(1, 13):
        words += [f"w{rank:02d}"] * round(600 / rank)
    zipf_text = " ".join(words)
    uni_text = " ".join(f"u{i}" for i in range(30)) * 4
    df = spark.createDataFrame(
        [("z", zipf_text), ("u", uni_text)], "source string, text string"
    )
    out = {r.source: r for r in zipf_slope(df, top_r=12).collect()}
    x = np.log(np.arange(1, 13))
    y = np.log(np.array([round(600 / r) for r in range(1, 13)], dtype=float))
    want_slope, want_icpt = np.polyfit(x, y, 1)
    assert abs(out["z"].slope - want_slope) < 1e-9
    assert abs(out["z"].intercept - want_icpt) < 1e-9
    assert out["z"].r2 > 0.999 and out["z"].n_ranks == 12
    assert abs(out["u"].slope) < 1e-9 and out["u"].r2 is None

    whole = zipf_slope(df, group_col=None, top_r=12).collect()
    assert len(whole) == 1 and whole[0].grp == "_all"


def test_pretrain_clean_perplexity_gate(spark):
    """CCNet-style LM gate: a doc the reference LM finds wildly
    surprising is dropped; in-distribution docs survive; the gate
    requires a fitted LM."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean
    from spark_timeseries_spark.pipeline.lm import train_bigram_lm

    ref_text = ("the quick brown fox jumps over the lazy dog and the dog "
                "sleeps near the quiet river bank in the warm sun all day")
    ref = spark.createDataFrame(
        [(i, ref_text) for i in range(4)], "doc_id long, text string"
    )
    lm = train_bigram_lm(ref)
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "zq xv qj wk vz jx kq zw vq xj plarg vonk trebu zilm"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(min_quality=0.0, rep_thresholds={"top2gram_char_ratio": 10.0})
    kept = {r.doc_id for r in
            pretrain_clean(df, max_perplexity=500.0, lm=lm, **kw).collect()}
    assert kept == {0}
    with pytest.raises(ValueError, match="needs a fitted lm"):
        pretrain_clean(df, max_perplexity=500.0, **kw)


def test_bpe_train_classic_corpus(spark):
    """Sennrich et al. 2016's toy corpus: the learned merges are the
    textbook sequence (es, est, est</w>, lo, low), counts match the
    hand-computed pair frequencies, ties break deterministically, and
    segmentation with the learned merges reproduces the expected
    subwords. Early-stop: a corpus that fully merges stops before
    n_merges."""
    from spark_timeseries_spark.pipeline.bpe import (
        bpe_segment,
        bpe_train,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    m = bpe_train(df, n_merges=5)
    assert m.merges == [("e", "s"), ("es", "t"), ("est", "</w>"),
                        ("l", "o"), ("lo", "w")]
    assert m.pair_counts == [9, 9, 9, 7, 7]

    for method in ("join", "fold"):
        seg = {r.doc_id: r
               for r in bpe_segment(df, m, method=method).collect()}[0]
        toks = seg.tokens
        # 'newest' -> n e w est</w>; 'low' -> low </w>
        assert toks[:2] == ["low", "</w>"], method
        i = toks.index("n")
        assert toks[i:i + 4] == ["n", "e", "w", "est</w>"], method
        assert seg.n_tokens == len(toks)

    tiny = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    mt = bpe_train(tiny, n_merges=50)
    # a+b, ab+</w> — then the word is one symbol, no pairs remain
    assert mt.merges == [("a", "b"), ("ab", "</w>")]


def test_bpe_train_local_loop_matches_distributed(spark, monkeypatch):
    """The driver-local merge loop (taken when the type table fits under
    DRIVER_VOCAB_ROWS) must produce the identical model — merges, counts,
    alphabet — as the distributed per-merge job loop. Pinned by forcing
    the bound to 0 (distributed) vs default (local) on the same corpus,
    including a tie-heavy alphabet and an early-stop corpus."""
    import spark_timeseries_spark.pipeline.bpe as bpe

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4 + ["ba"] * 4
    )
    df = spark.createDataFrame(
        [(0, text), (1, "ba aaa low")], "doc_id long, text string"
    )
    local = bpe.bpe_train(df, n_merges=6)
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_ROWS", 0)
    dist = bpe.bpe_train(df, n_merges=6)
    assert local.merges == dist.merges
    assert local.pair_counts == dist.pair_counts
    assert local.alphabet == dist.alphabet

    tiny = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    dist_t = bpe.bpe_train(tiny, n_merges=50)
    monkeypatch.undo()
    local_t = bpe.bpe_train(tiny, n_merges=50)
    assert local_t.merges == dist_t.merges == [("a", "b"), ("ab", "</w>")]
    assert local_t.pair_counts == dist_t.pair_counts


def test_driver_local_gates_build_in_two_jobs(spark, monkeypatch):
    """Every driver-local size gate decides with one bounded probe
    (``parallel.collect_at_most``): building connected_components,
    keep_cluster_representatives, pagerank or bpe_train on a small input
    issues at most 2 jobs, the bound patched to 0 still returns the local
    path's output, and no call leaves a persisted RDD that is not a local
    checkpoint behind (the rule perfbench applies after every run)."""
    import gc

    import spark_timeseries_spark.pipeline.bpe as bpe
    import spark_timeseries_spark.pipeline.graph as graph

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(25)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(0, "low lower newest widest " * 3), (1, "ba aaa low")],
        "doc_id long, text string",
    )

    builders = {
        "connected_components": lambda: dedup.connected_components(pairs),
        "keep_cluster_representatives": lambda: (
            dedup.keep_cluster_representatives(docs, pairs)
        ),
        "pagerank": lambda: graph.pagerank(pairs),
        "bpe_train": lambda: bpe.bpe_train(corpus, n_merges=8),
    }

    def output(built):
        if isinstance(built, bpe.BPEModel):
            return built
        return sorted(tuple(r) for r in built.collect())

    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    jobs, local = {}, {}
    for name, build in builders.items():
        group = f"driver-local-gate-{name}"
        sc.setJobGroup(group, group)
        try:
            built = build()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        local[name] = output(built)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(n <= 2 for n in jobs.values()), jobs

    monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", 0)
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_ROWS", 0)
    for name, build in builders.items():
        assert output(build()) == local[name], name

    gc.collect()
    persisted = sc._jsc.getPersistentRDDs()
    cached = [
        rid for rid in persisted.keySet().toArray()
        if rid not in before
        and not persisted.get(rid).rdd().isLocallyCheckpointed()
    ]
    assert not cached, cached


def test_dedup_to_representatives_runs_in_one_lineage(spark, tmp_path):
    """dedup_minhash_lsh -> keep_cluster_representatives on a small
    two-file parquet corpus, built and collected under a job group, runs
    at most 8 jobs (18 when the shingle and signature tables were
    persisted and the pairs symmetrized by a union), appends nothing to
    ``cache_registry``, leaves no persisted RDD that is not a local
    checkpoint, and plans the anti-join as a broadcast of the labels'
    local relation with no shuffle exchange."""
    import gc
    import random
    import re

    words = (
        "spark window merge table column vector stream value data small "
        "join filter big group hash"
    ).split()
    rows = []
    for i in range(40):
        r = random.Random(i)
        rows.append((i, " ".join(r.choice(words) for _ in range(30))))
    rows += [(100 + i, rows[i][1] + " dup") for i in range(0, 40, 5)]
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        2
    ).write.parquet(str(tmp_path / "docs"))
    corpus = spark.read.parquet(str(tmp_path / "docs"))

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    group = "dedup-to-representatives"
    registry: list = []
    sc.setJobGroup(group, group)
    try:
        pairs = dedup.dedup_minhash_lsh(
            corpus, threshold=0.8, cache_registry=registry
        )
        kept = dedup.keep_cluster_representatives(corpus, pairs)
        ids = sorted(r.doc_id for r in kept.collect())
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert ids == list(range(40)), ids  # every near-copy dropped
    assert jobs <= 8, jobs
    assert registry == []

    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan, plan
    assert not re.search(r"\bExchange\b", plan), plan

    gc.collect()
    persisted = sc._jsc.getPersistentRDDs()
    cached = [
        rid for rid in persisted.keySet().toArray()
        if rid not in before
        and not persisted.get(rid).rdd().isLocallyCheckpointed()
    ]
    assert not cached, cached


def test_graph_local_paths_probe_one_pass_and_return_local_relations(
    spark, monkeypatch
):
    """connected_components and pagerank symmetrize their pairs with one
    row-local generator, so the frame each hands its size probe plans no
    Union (which ran the pair table's plan twice); under the bound each
    returns a LocalRelation whose size the optimizer knows."""
    import spark_timeseries_spark.pipeline.graph as graph
    from spark_timeseries_spark.parallel import collect_at_most

    probed = []

    def recording(df, bound):
        probed.append(df._jdf.queryExecution().optimizedPlan().toString())
        return collect_at_most(df, bound)

    monkeypatch.setattr(dedup, "collect_at_most", recording)
    monkeypatch.setattr(graph, "collect_at_most", recording)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    comp = dedup.connected_components(pairs)
    ranks = graph.pagerank(pairs)
    assert len(probed) == 2
    assert not [p for p in probed if "Union" in p], probed
    assert {r.id: r.component for r in comp.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
    }
    assert sorted(r.id for r in ranks.collect()) == [1, 2, 3, 10, 11, 20, 21, 22]
    for out in (comp, ranks):
        plan = out._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan
        assert 0 < int(str(plan.stats().sizeInBytes())) < (1 << 63) - 1


def test_bpe_merge_fold_leftmost_first(spark):
    """The fold applies a merge leftmost-first over overlaps (aaa with
    merge (a,a) -> [aa, a]) and single-symbol arrays pass through —
    pinned because the DuckDB oracle replays the identical fold."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.bpe import merge_fold_expr

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["x"],), (["a", "b", "a", "a"],)],
        "syms array<string>",
    )
    out = [r.m for r in df.select(
        merge_fold_expr(F.col("syms"), "a", "a").alias("m")).collect()]
    assert out == [["aa", "a"], ["x"], ["a", "b", "aa"]]


def test_zipf_slope_degenerate_stratum_is_null(spark):
    """A single-rank stratum (zero x-variance) yields NULL slope /
    intercept / r2 — not the NaN Spark's 0/0 would produce (SQL engines
    return NULL for the same algebra; the oracle comparison pins the
    engine-independent convention)."""
    from spark_timeseries_spark.pipeline.vocab import zipf_slope

    df = spark.createDataFrame(
        [("one", "solo solo solo"), ("many", "a a a b b c")],
        "source string, text string",
    )
    out = {r.source: r for r in zipf_slope(df, top_r=10).collect()}
    assert out["one"].slope is None
    assert out["one"].intercept is None and out["one"].r2 is None
    assert out["one"].n_ranks == 1
    assert out["many"].slope is not None


def test_trigram_lm_matches_python_reference(spark):
    """Interpolated trigram perplexity == a pure-python replay of the
    exact same algebra (add-k layers, Jelinek-Mercer weights) on a small
    corpus; <3-token docs are excluded; bad lambdas fail fast."""
    import math
    from collections import Counter

    from spark_timeseries_spark.pipeline.lm import (
        score_perplexity_trigram,
        train_trigram_lm,
    )

    ref_texts = ["the cat sat on the mat", "the cat ran to the mat",
                 "a dog sat on a log"]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    lm = train_trigram_lm(ref)

    tgt_texts = {10: "the cat sat on a log", 11: "zz qq ww", 12: "too short"}
    tgt = spark.createDataFrame(
        list(tgt_texts.items()), "doc_id long, text string"
    )
    lambdas, k = (0.5, 0.3, 0.2), 1.0
    got = {r.doc_id: r for r in
           score_perplexity_trigram(tgt, lm, lambdas=lambdas).collect()}
    # default lambdas differ; rescore with explicit ones for the check
    got = {r.doc_id: r for r in
           score_perplexity_trigram(tgt, lm, k=k, lambdas=lambdas).collect()}

    toks = [t.split() for t in ref_texts]
    tri = Counter((w[i], w[i+1], w[i+2]) for w in toks
                  for i in range(len(w) - 2))
    tri_ctx = Counter()
    for (a, b, c), n in tri.items():
        tri_ctx[(a, b)] += n
    bi = Counter((w[i], w[i+1]) for w in toks for i in range(len(w) - 1))
    bi_ctx = Counter()
    for (a, b), n in bi.items():
        bi_ctx[a] += n
    uni = Counter(t for w in toks for t in w)
    N, V = sum(uni.values()), len(uni)
    l3, l2, l1 = lambdas

    def ppl(text):
        w = text.split()
        nll = []
        for i in range(len(w) - 2):
            u, v, x = w[i], w[i+1], w[i+2]
            p3 = (tri[(u, v, x)] + k) / (tri_ctx[(u, v)] + k * V)
            p2 = (bi[(v, x)] + k) / (bi_ctx[v] + k * V)
            p1 = (uni[x] + k) / (N + k * V)
            nll.append(-math.log(l3 * p3 + l2 * p2 + l1 * p1))
        return math.exp(sum(nll) / len(nll))

    assert 12 not in got                       # 2 tokens -> no trigrams
    for d in (10, 11):
        assert abs(got[d].perplexity - ppl(tgt_texts[d])) < 1e-9, d
    assert got[11].perplexity > got[10].perplexity  # gibberish scores worse

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        score_perplexity_trigram(tgt, lm, lambdas=(0.5, 0.5, 0.5))


def test_corpus_stats_exact_and_approx(spark):
    """Per-stratum profile: exact mode matches hand counts (docs, token
    totals, distinct tokens, mean length); the HLL default lands within
    its documented error on the same data; the no-group mode profiles
    the whole corpus as one '_all' stratum."""
    from spark_timeseries_spark.pipeline.vocab import corpus_stats

    rows = [("a", "x y x"), ("a", "x z"), ("b", "p p p p")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r
           for r in corpus_stats(df, approx=False).collect()}
    assert out["a"].n_docs == 2 and out["a"].n_tokens == 5
    assert out["a"].distinct_tokens == 3
    assert abs(out["a"].avg_doc_tokens - 2.5) < 1e-12
    assert out["b"].n_tokens == 4 and out["b"].distinct_tokens == 1

    hll = {r.source: r for r in corpus_stats(df).collect()}
    assert abs(hll["a"].distinct_tokens - 3) <= 1
    whole = corpus_stats(df, group_col=None, approx=False).collect()
    assert len(whole) == 1 and whole[0].grp == "_all"
    assert whole[0].n_tokens == 9


def test_pca_matches_numpy(spark):
    """Distributed covariance == numpy.cov (unbiased); pca_fit recovers
    numpy's eigen-structure (explained variances match, components match
    up to the documented sign fix); pca_project equals the numpy
    projection of the centered data; projected variance is ordered."""
    import numpy as np

    from spark_timeseries_spark.pipeline.embeddings import (
        embedding_covariance,
        pca_fit,
        pca_project,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((80, 2))
    X = np.column_stack([
        3.0 * base[:, 0],
        1.0 * base[:, 1] + 0.5 * base[:, 0],
        0.1 * rng.standard_normal(80) + 2.0,
        0.2 * base[:, 0] - 0.3 * base[:, 1],
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )

    cov = {(r.i, r.j): r.cov for r in embedding_covariance(df).collect()}
    want = np.cov(X, rowvar=False)
    for i in range(4):
        for j in range(4):
            assert abs(cov[(i, j)] - want[i, j]) < 1e-9, (i, j)

    m = pca_fit(df, k=3)
    vals, vecs = np.linalg.eigh(want)
    order = np.argsort(vals)[::-1][:3]
    np.testing.assert_allclose(
        m.explained_variance, vals[order], rtol=1e-9)
    for c, idx in zip(m.components, order):
        v = vecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        np.testing.assert_allclose(c, v, atol=1e-9)

    proj = {r.vec_id: r.pca for r in pca_project(df, m).collect()}
    C = np.array(m.components)
    want_p = (X - X.mean(axis=0)) @ C.T
    for i in range(80):
        np.testing.assert_allclose(proj[i], want_p[i], atol=1e-9)
    # variance concentrates in component order
    P = np.array([proj[i] for i in range(80)])
    pv = P.var(axis=0)
    assert pv[0] > pv[1] > pv[2]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="1 <= k"):
        pca_fit(df, k=9)


def test_round5_review_fixes(spark, tmp_path):
    """Regression pins for the round-5 review findings: custom text_col
    through the rewrite gates, SemDeDup hard cap without sub-split,
    keys-respecting pivot fallback, NaN-free containment on empty
    shingle sets, duplicate (id, epoch) packing guard, and pipeline
    module registration."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    # 1. rewrite gates honor a non-default text column
    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    body = ("the quick brown fox jumps over the lazy dog and then walks "
            "to the old stone house by the quiet river bank early")
    df = spark.createDataFrame(
        [(0, body + "\n\nshared"), (1, body + " again\n\nshared")],
        "doc_id long, content string",
    )
    out = pretrain_clean(
        df, text_col="content", min_quality=0.0,
        rep_thresholds={"top2gram_char_ratio": 10.0},
        dedup_paragraph=True, remove_span_grams=30,
    ).collect()
    assert {r.doc_id for r in out} == {0, 1}
    assert all("content" in r.asDict() for r in out)

    # 2. max_bucket_size alone caps the per-cluster join
    import numpy as np

    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_fit,
        semantic_dedup_pairs,
    )

    same = [(i, [1.0] * 4) for i in range(40)]
    vdf = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    km = kmeans_fit(vdf, k=1, max_iter=1)
    capped = semantic_dedup_pairs(
        vdf, km, threshold=-1.0, max_bucket_size=5
    ).collect()
    assert len(capped) <= 5 * 4 // 2

    # 3. pivot fallback honors the caller's key subset
    from spark_timeseries_spark.operators.layout import to_instants_df

    import pandas as pd
    rows = [(pd.Timestamp("2024-01-01").to_pydatetime(), k, float(i))
            for i, k in enumerate(["a", "b", "c"])]
    grid = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    m = to_instants_df(grid, keys=["a", "b"], max_pivot_keys=1).collect()
    assert set(m[0].instant.keys()) == {"a", "b"}          # "c" excluded
    # keys=None under the bound: single collected key list drives the pivot
    wide = to_instants_df(grid, max_pivot_keys=10)
    assert set(wide.columns) == {"ts", "a", "b", "c"}

    # 4. empty shingle set -> NULL scores, filtered by any threshold
    from spark_timeseries_spark.pipeline.dedup import containment_verify

    docs = spark.createDataFrame(
        [(0, "only two"), (1, "one two three four five")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    nul = containment_verify(docs, cand, shingle_n=3).collect()
    assert nul[0].containment_a is None
    assert not containment_verify(docs, cand, shingle_n=3,
                                  threshold=0.1).collect()

    # 5. duplicate (id, epoch) fails loudly
    from spark_timeseries_spark.pipeline.packing import pack_sequences

    dup = spark.createDataFrame(
        [(7, 0, "s", "w w w"), (7, 0, "s", "w w")],
        "doc_id long, epoch int, source string, text string",
    )
    with _pytest.raises(SparkRuntimeException, match="duplicate"):
        pack_sequences(dup, seq_len=16, bpe=False).collect()

    # 6. new modules registered like every sibling
    import spark_timeseries_spark.pipeline as pl

    assert hasattr(pl, "bpe") and hasattr(pl, "embeddings")
    assert "bpe" in pl.__all__ and "embeddings" in pl.__all__


def test_pmi_pairs_matches_python_reference(spark):
    """PMI == the hand-computed Church & Hanks formula on a small corpus;
    a recurring collocation outranks a frequent-but-independent pair;
    min_count suppresses hapax pairs; top_k ranking is deterministic."""
    import math
    from collections import Counter

    from spark_timeseries_spark.pipeline.lm import pmi_pairs

    texts = ["new york is big and new york is loud",
             "the city is big and the city is new"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = [t.split() for t in texts]
    bg = Counter((w[i], w[i+1]) for w in toks for i in range(len(w) - 1))
    n = sum(bg.values())
    la = Counter()
    rb = Counter()
    for (a, b), c in bg.items():
        la[a] += c
        rb[b] += c

    got = {(r.left, r.right): r
           for r in pmi_pairs(df, min_count=2).collect()}
    assert all(v.cnt >= 2 for v in got.values())
    for (a, b), r in got.items():
        want = math.log(bg[(a, b)] * n / (la[a] * rb[b]))
        assert abs(r.pmi - want) < 1e-12, (a, b)
    assert ("new", "york") in got
    assert got[("new", "york")].pmi > got[("is", "big")].pmi

    top = pmi_pairs(df, min_count=2, top_k=3).collect()
    assert len(top) == 3
    assert top[0].pmi >= top[1].pmi >= top[2].pmi


def test_pca_feeds_ann_stack(spark):
    """The promised composition: pca_project output drops straight into
    the ANN operators. Full-rank PCA is an isometry (orthogonal rotation
    of centered data), so exact L2 top-k over the projected space equals
    exact L2 top-k over the raw space — pinned exactly; and the
    PQ train/encode/ADC chain runs end-to-end on the projected frame."""
    import numpy as np

    from spark_timeseries_spark.pipeline.embeddings import (
        pca_fit,
        pca_project,
    )
    from spark_timeseries_spark.pipeline.pq import (
        exact_l2_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(17)
    X = rng.standard_normal((60, 8)) @ np.diag([4, 3, 2, 1, .5, .3, .2, .1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    m = pca_fit(df, k=8)
    proj = pca_project(df, m)
    q_raw = df.where("vec_id < 3")
    q_prj = proj.where("vec_id < 3")

    raw_top = {(r.qid, r.rank): r.vec_id
               for r in exact_l2_topk(df, q_raw, k=5).collect()}
    prj_top = {(r.qid, r.rank): r.vec_id
               for r in exact_l2_topk(proj, q_prj, k=5,
                                      vec_col="pca").collect()}
    assert raw_top == prj_top              # rotation preserves L2

    pq = pq_train(proj, dim=8, m=2, k=4, max_iter=2, vec_col="pca")
    codes = pq_encode(proj, pq, vec_col="pca")
    adc = pq_adc_topk(codes, pq, q_prj, k=5, vec_col="pca").collect()
    assert len(adc) == 15 and all(1 <= r.rank <= 5 for r in adc)


def test_token_entropy_matches_python(spark):
    """Entropy/hapax profile == the hand formula; repetition drives
    entropy toward 0 and hapax toward 0; blank docs report 0 counts and
    NULL ratios."""
    import math
    from collections import Counter

    from spark_timeseries_spark.pipeline.vocab import token_entropy

    rows = [(0, "a b c d e f"), (1, "a a a a a b"), (2, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in token_entropy(df).collect()}
    for d, text in [(0, rows[0][1]), (1, rows[1][1])]:
        c = Counter(text.split())
        n = sum(c.values())
        want = -sum((v / n) * math.log(v / n) for v in c.values())
        assert abs(got[d].entropy - want) < 1e-12, d
        assert got[d].hapax_ratio == sum(
            1 for v in c.values() if v == 1) / len(c)
    assert got[0].entropy > got[1].entropy
    assert got[2].n_tokens == 0 and got[2].entropy is None
    assert got[2].hapax_ratio is None


def test_token_divergence_matches_python(spark):
    """KL/JS drift == the hand formula over the union vocabulary with
    add-k smoothing; identical corpora diverge ~0; disjoint corpora
    approach JS = ln 2; KL is asymmetric, JS symmetric and bounded."""
    import math
    from collections import Counter

    from spark_timeseries_spark.pipeline.vocab import token_divergence

    a_txt = ["the cat sat on the mat", "the dog ran"]
    b_txt = ["the cat sat on a rug", "a bird flew far away today"]
    da = spark.createDataFrame([(i, t) for i, t in enumerate(a_txt)],
                               "doc_id long, text string")
    db = spark.createDataFrame([(i, t) for i, t in enumerate(b_txt)],
                               "doc_id long, text string")
    k = 0.5
    got = token_divergence(da, db, k=k).collect()[0]

    ca = Counter(t for s in a_txt for t in s.split())
    cb = Counter(t for s in b_txt for t in s.split())
    vocab = set(ca) | set(cb)
    na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    kl_ab = kl_ba = js = 0.0
    for t in vocab:
        p = (ca[t] + k) / (na + k * v)
        q = (cb[t] + k) / (nb + k * v)
        m = (p + q) / 2
        kl_ab += p * math.log(p / q)
        kl_ba += q * math.log(q / p)
        js += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    assert abs(got.kl_ab - kl_ab) < 1e-12
    assert abs(got.kl_ba - kl_ba) < 1e-12
    assert abs(got.js - js) < 1e-12
    assert got.vocab_union == v and got.n_a == na and got.n_b == nb

    same = token_divergence(da, da).collect()[0]
    assert abs(same.js) < 1e-12 and abs(same.kl_ab) < 1e-12
    dx = spark.createDataFrame([(0, "zz qq ww " * 50)],
                               "doc_id long, text string")
    far = token_divergence(da, dx, k=0.01).collect()[0]
    assert 0.5 < far.js <= math.log(2) + 1e-9


def test_dedup_minhash_cross_flags_near_dup_of_existing(spark):
    """A new-batch doc nearly identical to an existing-corpus doc is
    flagged (id_new, id_old, jaccard); novel new docs and pairs WITHIN
    the new batch are not (cross-corpus only)."""
    from spark_timeseries_spark.pipeline.dedup import dedup_minhash_cross

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet village roofs all night long")
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark query "
                        "plans shuffles and broadcast joins at scale")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base + " extra"),        # near-dup of existing doc 1
         (101, "genuinely novel text discussing tokenizer fertility "
               "and vocabulary coverage across language strata"),
         (102, "genuinely novel text discussing tokenizer fertility "
               "and vocabulary coverage across language strata too")],
        "doc_id long, text string",
    )
    out = dedup_minhash_cross(new, existing, threshold=0.5).collect()
    assert {(r.id_new, r.id_old) for r in out} == {(100, 1)}
    assert all(r.jaccard >= 0.5 for r in out)


def test_oph_signatures_and_dedup(spark):
    """OPH signatures: per-bin minima with rotation densification match a
    reference computation from the same xxhash64 values; no NULL cells
    survive densification; signature agreement approximates Jaccard; the
    end-to-end hash_fn='oph' pipeline verifies the same planted near-dup
    pairs as the 64-seeded-hash path (verification is exact Jaccard, so
    only candidate recall could differ)."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.dedup import (
        dedup_minhash_lsh,
        minhash_signatures_oph,
        shingle_sets,
    )

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " nineteen"),              # near-dup of 1
            (3, "totally different words about completely other topics "
                "maritime lighthouse navigation charts coastal schedules"),
            (4, "three words only"),              # 1 shingle: densification path
        ],
        "doc_id long, text string",
    )
    sets = shingle_sets(docs)
    k = 16
    sig = {r["id"]: r["sig"] for r in
           minhash_signatures_oph(sets, id_col="id", num_hashes=k).collect()}
    assert all(len(s) == k for s in sig.values())
    assert all(v is not None for s in sig.values() for v in s)

    # reference computation from the same xxhash64 values
    hashed = (sets.select("id", F.explode("sh").alias("s"))
              .select("id", F.xxhash64("s").alias("h"),
                      F.pmod(F.xxhash64("s"), F.lit(k)).alias("b"))
              .collect())
    import collections
    bins = collections.defaultdict(dict)
    for r in hashed:
        b = bins[r.id]
        b[r.b] = min(b.get(r.b, r.h), r.h)
    for did, b in bins.items():
        want = []
        for i in range(k):
            if i in b:
                want.append(b[i])
            else:  # nearest filled bin to the cyclic right
                for d in range(1, k + 1):
                    j = (i + d) % k
                    if j in b:
                        want.append(b[j])
                        break
        assert list(sig[did]) == want, did

    # agreement ~ Jaccard for the near-dup pair (loose: k=16)
    agree = np.mean([a == c for a, c in zip(sig[1], sig[2])])
    assert agree > 0.5

    pairs_oph = {(r.id_a, r.id_b) for r in dedup_minhash_lsh(
        docs, threshold=0.5, num_hashes=32, bands=16, hash_fn="oph"
    ).collect()}
    pairs_xx = {(r.id_a, r.id_b) for r in dedup_minhash_lsh(
        docs, threshold=0.5, num_hashes=32, bands=16, hash_fn="xxhash64"
    ).collect()}
    assert pairs_oph == pairs_xx == {(1, 2)}


def test_readability_flesch(spark):
    """readability counts sentences/words/syllables by the documented
    regex rules and reproduces hand-computed Flesch scores; blank text
    yields 0 words and NULL flesch; vowel-less words count one syllable."""
    from spark_timeseries_spark.pipeline.text import readability

    rows = [
        (1, "The cat sat. The dog ran!"),
        (2, "no terminator here"),
        (3, ""),
        (4, "7 hmm ok?"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in readability(df).collect()}

    r = out[1]
    # sentences: ". " and "!" -> 2; words 6; syllables: vowel groups in
    # "the cat sat the dog ran" = e,a,a,e,o,a -> 6
    assert (r.n_sents, r.n_words, r.n_syllables) == (2, 6, 6)
    assert abs(r.flesch - (206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6))) < 1e-9

    r = out[2]  # fragment: floor one sentence; words 3; o,e,i,a,o,e,e ->
    assert r.n_sents == 1 and r.n_words == 3
    assert r.n_syllables == len(
        __import__("re").findall(r"[aeiouy]+", "no terminator here")
    )

    r = out[3]
    assert (r.n_sents, r.n_words, r.n_syllables) == (1, 0, 0)
    assert r.flesch is None

    r = out[4]  # "7" and "hmm" are vowel-less -> +2; "ok" has one group
    assert r.n_words == 3 and r.n_sents == 1
    assert r.n_syllables == 1 + 2


def test_sq8_quantize_vs_numpy(spark):
    """sq8_quantize codes match the numpy affine grid bit-for-bit,
    reconstruction error matches, and constant vectors code to zeros
    with exact reconstruction."""
    import numpy as np

    from spark_timeseries_spark.pipeline.embeddings import sq8_quantize

    rng = np.random.RandomState(6)
    vecs = [rng.randn(16).astype(np.float32) for _ in range(5)]
    vecs.append(np.full(16, 3.25, dtype=np.float32))  # constant vector
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in sq8_quantize(df).collect()}

    for i, v in enumerate(vecs):
        v = v.astype(np.float64)
        r = out[i]
        vmin, vmax = v.min(), v.max()
        scale = (vmax - vmin) / 255.0
        if scale == 0.0:
            want_codes = np.zeros(len(v), dtype=int)
        else:
            want_codes = np.floor((v - vmin) / scale + 0.5).astype(int)
        assert list(r.codes) == list(want_codes), i
        recon = vmin + want_codes * scale
        assert abs(r.mse - float(np.mean((v - recon) ** 2))) < 1e-12
        assert abs(r.max_abs_err - float(np.max(np.abs(v - recon)))) < 1e-12
    assert out[5].mse == 0.0 and set(out[5].codes) == {0}


def test_embedding_drift(spark):
    """Centroid cosine + norm PSI against numpy replays: identical
    snapshots → cosine 1 / psi 0; rotated+scaled snapshot moves both."""
    import numpy as np

    from spark_timeseries_spark.pipeline.drift import embedding_drift

    rng = np.random.RandomState(67)
    base = rng.randn(200, 8) + np.array([3.0] * 8)  # offset so the
    # centroid is far from 0 and cosine is well-conditioned
    moved = base * 1.7 + np.array([0.0, 4.0] * 4)
    ref = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    cur = spark.createDataFrame(
        [(i, [float(x) for x in moved[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )

    same = embedding_drift(ref, ref, bins=5).collect()[0]
    assert abs(same.centroid_cosine - 1.0) < 1e-12
    assert same.norm_psi == 0.0
    assert same.n_ref == same.n_cur == 200

    row = embedding_drift(ref, cur, bins=5).collect()[0]
    # numpy replay on the FLOAT32-rounded values the engine actually saw
    b32 = base.astype(np.float32).astype(float)
    m32 = moved.astype(np.float32).astype(float)
    ma, mb = b32.mean(0), m32.mean(0)
    cos_e = float(ma @ mb / (np.linalg.norm(ma) * np.linalg.norm(mb)))
    assert abs(row.centroid_cosine - cos_e) < 1e-9
    na = np.sqrt((b32**2).sum(1))
    nb = np.sqrt((m32**2).sum(1))
    lo, hi = na.min(), na.max()
    w = (hi - lo) / 5
    pb = np.bincount(np.clip(((na - lo) // w).astype(int), 0, 4),
                     minlength=5) / 200
    qb = np.bincount(np.clip(((nb - lo) // w).astype(int), 0, 4),
                     minlength=5) / 200
    pe, qe = np.maximum(pb, 1e-4), np.maximum(qb, 1e-4)
    psi_e = float(np.sum((qe - pe) * np.log(qe / pe)))
    assert abs(row.norm_psi - psi_e) < 1e-9
    assert row.norm_psi > 0.25  # 1.7x scale is definitely drift


def test_priority_sample(spark):
    """Exact k per stratum, deterministic across calls, smaller strata
    pass through whole, rank order matches hash priority, and a
    different seed draws a (generally) different set."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.sampling import priority_sample

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "tiny")
                                               for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = priority_sample(df, 10, seed=1).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, []).append(r)
    assert len(by["big"]) == 10
    assert len(by["tiny"]) == 3            # <= k passes through whole
    assert sorted(r.sample_rank for r in by["big"]) == list(range(1, 11))
    # deterministic: identical second run
    again = priority_sample(df, 10, seed=1).collect()
    assert {(r.doc_id, r.sample_rank) for r in again} == {
        (r.doc_id, r.sample_rank) for r in out
    }
    # rank order = ascending hash priority
    pri = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", F.xxhash64(F.col("doc_id").cast("string"),
                                 F.lit(1)).alias("h")
        ).collect()
    }
    big_sorted = sorted(by["big"], key=lambda r: r.sample_rank)
    assert all(
        pri[a.doc_id] <= pri[b.doc_id]
        for a, b in zip(big_sorted, big_sorted[1:])
    )
    # top-10 = the 10 globally smallest priorities in the stratum
    want = set(sorted((i for i in range(100)), key=lambda i: pri[i])[:10])
    assert {r.doc_id for r in by["big"]} == want
    # another seed: a different draw (overwhelmingly likely)
    other = {r.doc_id for r in priority_sample(df, 10, seed=2).collect()
             if r.source == "big"}
    assert other != {r.doc_id for r in by["big"]}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        priority_sample(df, 0)


def test_benford(spark):
    """A geometric series is Benford-conforming (tiny MAD); a
    constant-leading-digit column is flagrantly non-conforming; the
    per-digit fractions and the missing-digit MAD/chi2 folding match a
    hand replay."""
    import numpy as np

    from spark_timeseries_spark.pipeline.drift import benford

    geo = [1.07 ** k for k in range(300)]          # classic Benford source
    ones = [1.0 + 0.0001 * k for k in range(300)]  # always digit 1
    rows = [("geo", float(v)) for v in geo] + [("one", float(v))
                                               for v in ones]
    df = spark.createDataFrame(rows, "src string, amount double")
    out = benford(df, "amount", "src").collect()
    g = {r.digit: r for r in out if r.group == "geo"}
    o = {r.digit: r for r in out if r.group == "one"}
    assert set(g) == set(range(1, 10))
    assert set(o) == {1}

    # hand replay for the geo group
    digs = np.array([int(str(v).lstrip("0.").replace(".", "")[0])
                     for v in geo])
    exp = np.log10(1 + 1 / np.arange(1, 10))
    obs = np.array([(digs == d).mean() for d in range(1, 10)])
    mad = np.abs(obs - exp).mean()
    chi2 = 300 * float(np.sum((obs - exp) ** 2 / exp))
    for d in range(1, 10):
        assert g[d].n_digit == int((digs == d).sum())
        assert abs(g[d].observed - obs[d - 1]) < 1e-12
        assert abs(g[d].expected - exp[d - 1]) < 1e-12
        assert abs(g[d].mad - mad) < 1e-12
        assert abs(g[d].chi2 - chi2) < 1e-7
    assert g[1].mad < 0.01            # conforming

    # the all-ones group: observed(1)=1; 8 digits missing entirely;
    # MAD = (|1-exp1| + sum of the 8 missing exps)/9
    mad1 = (abs(1 - exp[0]) + exp[1:].sum()) / 9.0
    chi1 = 300 * ((1 - exp[0]) ** 2 / exp[0] + exp[1:].sum())
    assert abs(o[1].mad - mad1) < 1e-12
    assert abs(o[1].chi2 - chi1) < 1e-7
    assert o[1].mad > 0.1             # flagrant

    # zero/negative/NULL excluded
    df2 = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", None), ("a", 42.0)],
        "src string, amount double",
    )
    r2 = benford(df2, "amount", "src").collect()
    assert len(r2) == 1 and r2[0].digit == 4 and r2[0].n_digit == 1


def test_filter_audit(spark):
    """Per-rule kill counts, unique-kill attribution, and corpus kill
    rate on a constructed flag matrix."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.pipeline.clean import filter_audit

    rows = [
        (1, "en", 500, 0.01),   # survives everything
        (2, "fr", 500, 0.01),   # fails lang only
        (3, "en", 50, 0.01),    # fails length only
        (4, "fr", 50, 0.01),    # fails lang AND length
        (5, "en", 500, 0.90),   # fails digits only
        (6, "en", 40, 0.95),    # fails length AND digits
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, nchars long, digit_frac double")
    out = {r.rule: r for r in filter_audit(df, {
        "lang": F.col("lang") != "en",
        "short": F.col("nchars") < 100,
        "digits": F.col("digit_frac") > 0.5,
    }).collect()}
    assert set(out) == {"lang", "short", "digits"}
    assert out["lang"].n_fail == 2 and out["lang"].n_unique_fail == 1
    assert out["short"].n_fail == 3 and out["short"].n_unique_fail == 1
    assert out["digits"].n_fail == 2 and out["digits"].n_unique_fail == 1
    for r in out.values():
        assert r.n_docs == 6 and r.n_killed == 5
        assert abs(r.kill_rate - 5 / 6) < 1e-12
    assert abs(out["short"].fail_rate - 0.5) < 1e-12
    assert abs(out["short"].unique_fail_rate - 1 / 6) < 1e-12
    import pytest as _pytest
    with _pytest.raises(ValueError):
        filter_audit(df, {})


@pytest.mark.parametrize("edge_rows", [None, 0], ids=["driver_local", "distributed"])
def test_pagerank_of_an_empty_pair_table_is_empty(spark, monkeypatch, edge_rows):
    """A pair table with no pair (or only NULL-id pairs) ranks no node:
    both paths return an empty (id, pr_int, pr) frame, as
    connected_components does, instead of dividing by zero nodes."""
    import spark_timeseries_spark.pipeline.graph as graph

    if edge_rows is not None:
        monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", edge_rows)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    nulls = spark.createDataFrame([(None, 1), (2, None)], "id_a long, id_b long")
    for pairs in (empty, nulls):
        for directed in (False, True):
            ranks = graph.pagerank(pairs, directed=directed)
            assert ranks.columns == ["id", "pr_int", "pr"]
            assert ranks.collect() == []


def test_paragraph_dedup_keeps_documents_sharing_an_id(spark):
    """pretrain_clean(dedup_paragraph=True) rebuilds each document row,
    not each id: two different documents with id 7 come back as two rows
    (a join back on the id merged them into one row holding both
    bodies), and a NULL-id document comes back too."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    a = "\n\n".join(f"the a{i} of x{i} and y{i} in z{i}" for i in range(6))
    b = "\n\n".join(f"the b{i} of u{i} and t{i} in s{i}" for i in range(6))
    c = "\n\n".join(f"the c{i} of q{i} and r{i} in p{i}" for i in range(6))
    shared = "the shared paragraph of this corpus and that one"
    rows = [(7, a + "\n\n" + shared), (7, b + "\n\n" + shared), (None, c)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = pretrain_clean(df, min_quality=0.0).collect()
    out = pretrain_clean(df, min_quality=0.0, dedup_paragraph=True).collect()
    assert len(plain) == len(out) == 3
    got = sorted(((r.doc_id is None, r.text) for r in out), key=repr)
    # the shared paragraph survives once, in one of the two id-7 documents
    assert sum(shared in t for _, t in got) == 1
    assert {t.replace("\n\n" + shared, "") for _, t in got} == {a, b, c}
    assert [n for n, _ in got].count(True) == 1
