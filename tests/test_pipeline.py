"""LLM-pipeline operator tests: LSH recall bounds, minhash internals,
multimodal decode determinism and batch plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_apache_ci_spark.registry import all_queries

from .conftest import SF_DIR


def test_lsh_recall_vs_bruteforce(spark):
    qs = all_queries()
    exact = {
        (r.query_id, r.neighbor_id) for r in qs["knn_topk_cosine"](spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in qs["knn_lsh_topk"](spark, SF_DIR).collect()
    }
    # every LSH hit must be a real vector pair, and LSH must find a sane
    # fraction of the true top-k (8 hyperplanes over random 64-d vectors
    # is a coarse index; bound is deliberately loose but nonzero)
    assert approx, "LSH produced no candidates at all"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.05, f"recall collapsed: {recall}"


def test_minhash_candidates_superset_of_high_jaccard(spark):
    """Any pair with high true Jaccard must be caught by LSH banding
    (8 bands x 2 rows => P(miss) = (1 - s^2)^8; s=0.5 -> ~10%, s>=0.7 -> <0.4%)."""
    qs = all_queries()
    jac = qs["dedup_ngram_jaccard"](spark, SF_DIR).collect()
    cands = {
        (r.doc_a, r.doc_b) for r in qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    high = [(r.doc_a, r.doc_b) for r in jac if r.jaccard >= 0.5]
    missed = [p for p in high if p not in cands]
    assert len(missed) <= max(1, len(high) // 3), (high, missed)


def test_simhash_range(spark):
    rows = all_queries()["dedup_simhash"](spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(0 <= r.simhash < 2**16 for r in rows)


def test_multimodal_decode_deterministic(spark):
    q = all_queries()["multimodal_decode_stub"]
    a = sorted(tuple(r) for r in q(spark, SF_DIR).collect())
    b = sorted(tuple(r) for r in q(spark, SF_DIR).collect())
    assert a == b
    assert len(a) == 500
    for (_doc, w, h, mi, nb) in a[:20]:
        assert 64 <= w <= 255 and 64 <= h <= 255
        assert 0.0 <= mi <= 1.0
        assert nb > 0


def test_multimodal_payload_checksum_consistent(spark):
    from hive_apache_ci_spark.pipeline.multimodal import with_binary_payload
    from hive_apache_ci_spark.helpers import T

    d = with_binary_payload(T(spark, SF_DIR, "documents"))
    bad = d.filter(F.md5(F.col("payload")) != F.col("meta.checksum")).count()
    assert bad == 0


def test_embedding_dedup_no_cartesian(spark):
    """Candidate generation must be the bucket equi-join — a cartesian in
    this plan means the LSH index is being bypassed. The ONLY nested-loop
    shape allowed is the one-row scalar attach of the corpus-size-derived
    plane count (build side broadcasts exactly [k_planes])."""
    import contextlib
    import io
    import re

    df = all_queries()["dedup_embedding_cosine"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
    n_scalar_k = len(
        re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[1\]: \[k_planes#\d+\]", p
        )
    )
    assert n_bnlj == n_scalar_k, (
        f"{n_bnlj} nested-loop joins but only {n_scalar_k} scalar-k attaches"
    )


def test_embedding_dedup_collapses_to_canonicals(spark):
    rows = all_queries()["dedup_embedding_cosine"](spark, SF_DIR).collect()
    dups = [r for r in rows if r.is_dup == 1]
    assert dups, "no near-dups found — threshold vacuous at this SF"
    assert all(r.canonical_id < r.vec_id for r in dups)
    assert all(r.canonical_id == r.vec_id for r in rows if r.is_dup == 0)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF probe search (nprobe=2 of 10 label-centroids) must recover a
    solid fraction of the true top-k: labels are genuine clusters in the
    embedding space, so the nearest-centroid lists should hold most true
    neighbors — a much tighter bound than the hyperplane-LSH index."""
    qs = all_queries()
    exact = {
        (r.query_id, r.neighbor_id) for r in qs["knn_topk_cosine"](spark, SF_DIR).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in qs["ivf_probe_topk"](spark, SF_DIR).collect()
    }
    assert approx, "IVF search produced no candidates"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_pagerank_invariants(spark):
    """Mass conservation (ranks sum to 1), the teleport floor for isolated
    vertices, and run-to-run determinism."""
    from hive_apache_ci_spark.pipeline.dedup import _PR_DAMP

    rows = all_queries()["pagerank_similarity_graph"](spark, SF_DIR).collect()
    n = len(rows)
    total = sum(r.rank_permille for r in rows) / 1000
    assert abs(total - 1.0) < 1e-6, total
    floor = (1 - _PR_DAMP) / n * 1000
    assert min(r.rank_permille for r in rows) >= floor - 1e-9
    # connected vertices must rise above the teleport floor
    assert max(r.rank_permille for r in rows) > floor * 1.5
    again = all_queries()["pagerank_similarity_graph"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_chunk_bytes_oracle_assumption_ascii(spark):
    """multimodal_chunk_bytes' oracle slices VARCHAR (DuckDB can't slice
    BLOBs) — only valid while the corpus is pure ASCII (char == byte)."""
    from pyspark.sql import functions as F

    from hive_apache_ci_spark.helpers import T

    d = T(spark, SF_DIR, "documents")
    non_ascii = d.filter(
        F.octet_length(F.encode(F.col("text"), "utf-8")) != F.length("text")
    ).count()
    assert non_ascii == 0


def test_lsh_candidate_ratio_tracks_corpus_size(spark):
    """The round-3 weak flag: with a FIXED plane count the candidate set
    approaches n²/2^k as the corpus grows. k now derives from n (k = smallest
    with 2^k >= n/occupancy), so candidate/all-pairs ~ L*occ/n must FALL with
    n — asserted at both sf0.01 (n=500, k=6) and sf0.1 (n=2000, k=8), the
    latter against the absolute 2% budget."""
    import pyspark.sql.functions as F

    from hive_apache_ci_spark.catalog import load_table
    from hive_apache_ci_spark.pipeline.similarity import (
        BUCKET_OCCUPANCY,
        N_TABLES,
        k_planes_py,
        lsh_table_buckets,
    )

    for sf_dir, abs_cap in [
        ("/root/testdata/sf0.01", None),
        ("/root/testdata/sf0.1", 0.02),
    ]:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = e.count()
        tb = lsh_table_buckets(e)
        a = tb.select(F.col("vec_id").alias("va"), "table", "bucket")
        b = tb.select(F.col("vec_id").alias("vb"), "table", "bucket")
        cands = (
            a.join(b, ["table", "bucket"])
            .filter(F.col("vb") < F.col("va"))
            .select("va", "vb")
            .distinct()
            .count()
        )
        ratio = cands / (n * (n - 1) / 2)
        # expected ratio if buckets were balanced: L*occ/n; real buckets are
        # mildly skewed, allow 2x
        expected = N_TABLES * BUCKET_OCCUPANCY / n
        assert ratio <= 2 * expected, (sf_dir, n, k_planes_py(n), ratio)
        if abs_cap is not None:
            assert ratio <= abs_cap, (sf_dir, n, ratio)


def test_ivf_pq_search_equals_monolith(spark):
    """The serving-path search against the materialized index must return
    exactly the end-to-end ivf_pq_topk result (same quantized index, same
    ranking) — the build/search split may not change answers."""
    qs = all_queries()
    mono = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_d2)
        for r in qs["ivf_pq_topk"](spark, SF_DIR).collect()
    }
    split = {
        (r.query_id, r.neighbor_id, r.rank, r.adc_d2)
        for r in qs["ivf_pq_search_topk"](spark, SF_DIR).collect()
    }
    assert mono == split


def test_ivf_pq_index_reused_not_retrained(spark):
    """_ensure_pq_index must return the published index without retraining
    on a second call (the serving path's warm cost is read-only), and the
    index dir must be keyed to the source file's identity."""
    import os

    from hive_apache_ci_spark.pipeline.similarity import (
        _ensure_pq_index,
        _pq_index_dir,
    )

    d1 = _ensure_pq_index(spark, SF_DIR)
    stamp = os.path.getmtime(os.path.join(d1, "codebook"))
    d2 = _ensure_pq_index(spark, SF_DIR)
    # round-6 layout: immutable version dirs under the content-keyed root
    assert d1 == d2 and os.path.dirname(d1) == _pq_index_dir(SF_DIR)
    assert os.path.getmtime(os.path.join(d2, "codebook")) == stamp


def test_ivf_pq_rebuild_republishes_with_reader_grace(spark):
    """rebuild=True must publish a NEW version dir (the r5 advisory: the
    old swap discarded fresh builds) while the version a concurrent reader
    already resolved stays on disk (one-generation grace), and the pointer
    must resolve to the new build."""
    import os

    from hive_apache_ci_spark.pipeline.similarity import (
        _ensure_pq_index,
        _resolve_pq_index,
        _pq_index_dir,
    )

    before = _ensure_pq_index(spark, SF_DIR)
    after = _ensure_pq_index(spark, SF_DIR, rebuild=True)
    assert after != before  # fresh build actually published
    assert _resolve_pq_index(_pq_index_dir(SF_DIR)) == after
    # grace: the dir a reader resolved pre-flip is still readable
    assert os.path.isfile(os.path.join(before, "_SUCCESS"))


# ---- round-6 additions: matryoshka / nprobe sweep / fingerprint prefilter


def test_nprobe_sweep_recall_monotone(spark):
    """More probed lists can only add candidates, so recall@k must be
    nondecreasing in nprobe — the tuning curve's defining property."""
    from hive_apache_ci_spark.registry import all_queries

    rows = sorted(
        all_queries()["ann_nprobe_sweep"](spark, SF_DIR).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    recalls = [r.mean_recall_at_k for r in rows]
    assert recalls == sorted(recalls), recalls
    assert all(0.0 <= x <= 1.0 for x in recalls)


def test_matryoshka_shapes_and_bounds(spark):
    from hive_apache_ci_spark.pipeline.similarity import (
        _MRL_DIMS,
        N_QUERIES,
        TOP_K,
    )
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["ann_matryoshka_recall"](spark, SF_DIR).collect()
    assert len(rows) == len(_MRL_DIMS) * N_QUERIES
    for r in rows:
        assert 0 <= r.n_matched <= TOP_K
        assert r.trunc_dims in _MRL_DIMS
    # full-dim ranking is the truth, so a WIDER prefix must not do worse
    # on average (it sees strictly more of the vector)
    by_d = {}
    for r in rows:
        by_d.setdefault(r.trunc_dims, []).append(r.n_matched)
    means = {d: sum(v) / len(v) for d, v in by_d.items()}
    assert means[32] >= means[16], means


def test_prefilter_no_false_negatives_and_confirms_match_incremental(spark):
    """Structural guarantee: a confirmed dup must have passed the filter;
    cross-op consistency: the confirmed-dup set must equal
    dedup_incremental_batch's (same split, same normalized hash)."""
    from hive_apache_ci_spark.registry import all_queries

    qs = all_queries()
    pre = qs["dedup_fingerprint_prefilter"](spark, SF_DIR).collect()
    assert all(r.was_candidate == 1 for r in pre if r.is_dup == 1)
    assert sum(r.was_candidate for r in pre) > 0, "filter tier never fired"
    got = {(r.doc_id, r.dup_of_base) for r in pre if r.is_dup == 1}
    inc = qs["dedup_incremental_batch"](spark, SF_DIR).collect()
    want = {(r.doc_id, r.dup_of_base) for r in inc if r.is_dup == 1}
    assert got == want


def test_bloom_prefilter_confirm_tier_equals_fp_variant(spark):
    """r6 verdict #4 acceptance: the bloom topology must agree with the
    deterministic-fp form on the CONFIRM tier exactly — same doc set, same
    is_dup verdicts, same dup_of_base assignments. The bloom tier may only
    differ in EXTRA candidates (false positives), never missed dups."""
    from hive_apache_ci_spark.registry import all_queries

    qs = all_queries()
    fp = {r.doc_id: r for r in qs["dedup_fingerprint_prefilter"](spark, SF_DIR).collect()}
    bl = {r.doc_id: r for r in qs["dedup_bloom_prefilter"](spark, SF_DIR).collect()}
    assert set(fp) == set(bl)  # both verdict every increment doc
    for doc_id, f in fp.items():
        b = bl[doc_id]
        assert (f.is_dup, f.dup_of_base) == (b.is_dup, b.dup_of_base), doc_id
        if f.is_dup == 1:  # a true dup must pass ANY no-false-negative tier
            assert b.was_candidate == 1, doc_id
    # the fp tier's candidates (exact prefix-fingerprint matches: true dups
    # + shared-prefix near-dups) must ALL pass the bloom too — the bloom
    # encodes the same fingerprints, so an fp-candidate missing from the
    # bloom's candidate set would be a false negative in the bit array
    fp_cand = {d for d, r in fp.items() if r.was_candidate == 1}
    bl_cand = {d for d, r in bl.items() if r.was_candidate == 1}
    assert fp_cand <= bl_cand, fp_cand - bl_cand
    # ...and the bloom's EXTRA candidates (k-position collisions, the only
    # place the tiers may differ) stay near the designed ~0.1% fp rate
    n_new = sum(1 for r in bl.values() if r.is_dup == 0)
    extra = len(bl_cand - fp_cand)
    assert n_new == 0 or extra <= max(2, n_new * 0.05), (extra, n_new)


def test_calibration_bins_equal_count_and_monotone(spark):
    from hive_apache_ci_spark.pipeline.training import _CAL_BINS
    from hive_apache_ci_spark.registry import all_queries

    rows = sorted(
        all_queries()["quality_calibration_report"](spark, SF_DIR).collect(),
        key=lambda r: r.bin,
    )
    assert [r.bin for r in rows] == list(range(_CAL_BINS))
    total = sum(r.n_docs for r in rows)
    # equal-count bins: no bin further than 25% from the ideal share
    # (boundary ties can shift a few docs between neighbors)
    for r in rows:
        assert abs(r.n_docs - total / _CAL_BINS) <= total / _CAL_BINS * 0.25, rows
    preds = [r.mean_predicted for r in rows]
    assert preds == sorted(preds)  # quantile bins => monotone by construction
    assert all(0.0 <= r.empirical_rate <= 1.0 for r in rows)


def test_curriculum_shares_normalize_and_anneal_tilts_up(spark):
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["corpus_curriculum_schedule"](spark, SF_DIR).collect()
    assert len(rows) == 30
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r)
    for phase, rs in by_phase.items():
        assert abs(sum(x.token_share for x in rs) - 1.0) < 1e-4, phase
    def top3(phase):
        return sum(
            x.token_share for x in by_phase[phase] if x.decile >= 7
        )
    # annealing must concentrate the token budget on high-quality deciles
    assert top3("anneal") > top3("main") > top3("warmup") - 1e-9


def test_hybrid_rrf_fuses_both_arms(spark):
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["search_hybrid_rrf"](spark, SF_DIR).collect()
    assert len(rows) == 10
    assert [r.rk for r in rows] != sorted(
        [r.rk for r in rows], reverse=True
    )  # ranks ascend
    # fusion must actually mix: some doc carries BOTH ranks (the PRF vector
    # is built FROM bm25 hits, so overlap is structural), and the top doc's
    # score must equal the recomputed reciprocal sum
    both = [r for r in rows if r.bm_rk is not None and r.vec_rk is not None]
    assert both, rows
    top = rows[0]
    expect = (1.0 / (60 + top.bm_rk) if top.bm_rk else 0.0) + (
        1.0 / (60 + top.vec_rk) if top.vec_rk else 0.0
    )
    assert abs(top.rrf_score - round(expect, 6)) < 1e-9


def test_ingest_delta_ledger_consistent(spark):
    """Occupancy ledger must cover the whole corpus: per subspace,
    n_base+n_delta sums to the embedding count, and the delta tier
    actually ingested rows (non-vacuous split)."""
    from hive_apache_ci_spark.helpers import T
    from hive_apache_ci_spark.pipeline.similarity import _PQ_M
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["ivf_pq_ingest_delta"](spark, SF_DIR).collect()
    n_vecs = T(spark, SF_DIR, "embeddings").count()
    per_s = {}
    for r in rows:
        per_s.setdefault(r.s, [0, 0])
        per_s[r.s][0] += r.n_base
        per_s[r.s][1] += r.n_delta
    assert set(per_s) == set(range(_PQ_M))
    for s, (nb, nd) in per_s.items():
        assert nb + nd == n_vecs, (s, nb, nd, n_vecs)
        assert nd > 0, "delta tier never ingested anything"
        assert nb > nd  # 90/10 split


def test_token_budget_alloc_sums_exactly(spark):
    from hive_apache_ci_spark.pipeline.corpus import _BUDGET_TOKENS
    from hive_apache_ci_spark.registry import all_queries

    rows = all_queries()["corpus_token_budget_alloc"](spark, SF_DIR).collect()
    assert sum(r.alloc for r in rows) == _BUDGET_TOKENS  # the Hamilton law
    assert all(r.alloc in (r.floor_alloc, r.floor_alloc + 1) for r in rows)
    # proportionality: allocs ordered like token counts
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    allocs = [r.alloc for r in by_tokens]
    assert allocs == sorted(allocs)


def test_resize_stub_consistent_with_decode_stub(spark):
    """The resize's source dims must equal the decode's reported dims and
    the output checksum must re-derive from the payload checksum."""
    import hashlib

    from hive_apache_ci_spark.registry import all_queries

    qs = all_queries()
    dec = {r.doc_id: r for r in qs["multimodal_decode_stub"](spark, SF_DIR).collect()}
    met = {r.doc_id: r for r in qs["multimodal_binary_meta"](spark, SF_DIR).collect()}
    res = qs["multimodal_resize_stub"](spark, SF_DIR).collect()
    for r in res[:50]:
        assert (r.src_w, r.src_h) == (dec[r.doc_id].width, dec[r.doc_id].height)
        want = hashlib.md5(
            f"{met[r.doc_id].checksum}#{r.dst_w}x{r.dst_h}".encode()
        ).hexdigest()
        assert r.out_checksum == want


def test_parse_image_header_edge_cases():
    """The real header parser must reject truncated/foreign bytes and walk
    past leading JPEG segments to the SOF."""
    from hive_apache_ci_spark.pipeline.multimodal import parse_image_header

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00" + b"\x00\x00\x00\x00"
    )
    assert parse_image_header(png) == ("png", 640, 480)
    # JPEG with an extra COM segment before SOF0 — the walk must skip it
    jpg = (
        b"\xff\xd8"
        + b"\xff\xfe\x00\x07hello"                       # COM, len 7
        + b"\xff\xc0\x00\x11\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )
    assert parse_image_header(jpg) == ("jpeg", 640, 480)
    # T.81 §B.1.1.2 fill bytes: any run of 0xFF before a marker is padding,
    # not a marker code (r9 ADVICE — a fill byte was read as seglen bytes)
    padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"                                # fill run
        + b"\xff\xc0\x00\x11\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )
    assert parse_image_header(padded) == ("jpeg", 640, 480)
    # malformed seglen < 2 must bail, never walk backwards/loop
    bad_len = b"\xff\xd8" + b"\xff\xfe\x00\x01" + b"\x00" * 8
    assert parse_image_header(bad_len) == ("unknown", None, None)
    assert parse_image_header(b"") == ("unknown", None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (
        "unknown", None, None)
    assert parse_image_header(b"\xff\xd8\xff\xd9") == ("unknown", None, None)
    # r10: GIF logical-screen descriptor (little-endian) + BMP
    # BITMAPINFOHEADER (signed LE; negative height = top-down, magnitude
    # reported)
    gif = b"GIF89a" + (640).to_bytes(2, "little") + (480).to_bytes(2, "little")
    assert parse_image_header(gif + b"\xf7\x00\x00;") == ("gif", 640, 480)
    bmp = (
        b"BM" + (30).to_bytes(4, "little") + b"\x00" * 4
        + (30).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (640).to_bytes(4, "little")
        + (-480).to_bytes(4, "little", signed=True)
        + b"\x01\x00\x18\x00"
    )
    assert parse_image_header(bmp) == ("bmp", 640, 480)
    assert parse_image_header(b"BM\x00\x00") == ("unknown", None, None)
    # r10 ADVICE: the DIB size field at 14 discriminates the layout —
    # a 12-byte BITMAPCOREHEADER stores an UNSIGNED u16 pair at 18/20
    core = (
        b"BM" + (26).to_bytes(4, "little") + b"\x00" * 4
        + (26).to_bytes(4, "little") + (12).to_bytes(4, "little")
        + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
        + b"\x01\x00\x18\x00"
    )
    assert parse_image_header(core) == ("bmp", 320, 200)
    # unknown DIB size -> reject, never emit garbage dims
    alien = (
        b"BM" + (30).to_bytes(4, "little") + b"\x00" * 4
        + (30).to_bytes(4, "little") + (64).to_bytes(4, "little")
        + (640).to_bytes(4, "little") + (480).to_bytes(4, "little")
        + b"\x01\x00\x18\x00"
    )
    assert parse_image_header(alien) == ("unknown", None, None)
    # negative WIDTH has no top-down analog: malformed, reject
    negw = (
        b"BM" + (30).to_bytes(4, "little") + b"\x00" * 4
        + (30).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (-640).to_bytes(4, "little", signed=True)
        + (480).to_bytes(4, "little")
        + b"\x01\x00\x18\x00"
    )
    assert parse_image_header(negw) == ("unknown", None, None)


def test_parse_wav_header_edge_cases():
    """RIFF/WAVE chunk walker: fmt+data parse, odd-size chunk padding,
    unknown leading chunks skipped, torn/foreign containers rejected."""
    from hive_apache_ci_spark.pipeline.multimodal import parse_wav_header

    def chunk(cid, payload):
        return cid + len(payload).to_bytes(4, "little") + payload \
            + (b"\x00" if len(payload) % 2 else b"")

    fmt = (
        (1).to_bytes(2, "little") + (2).to_bytes(2, "little")      # PCM, 2ch
        + (16000).to_bytes(4, "little") + (64000).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = chunk(b"LIST", b"junk!")          # odd-size chunk before fmt
    body += chunk(b"fmt ", fmt)
    body += chunk(b"data", b"\x00" * 32000)  # 0.5 s at 64000 B/s
    wav = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
    assert parse_wav_header(wav) == ("wav", 2, 16000, 16, 500)
    assert parse_wav_header(b"RIFF\x00\x00\x00\x00AVI ") == (
        "unknown", None, None, None, None)
    assert parse_wav_header(b"") == ("unknown", None, None, None, None)
    # fmt chunk present but truncated container: no data chunk -> no dur
    wav2 = b"RIFF" + (100).to_bytes(4, "little") + b"WAVE" + chunk(b"fmt ", fmt)
    assert parse_wav_header(wav2) == ("wav", 2, 16000, 16, None)


def test_vector_kernels_match_plain_python(spark):
    """sq_l2, mean_vectors and nearest_label on a tiny in-memory frame,
    against the same arithmetic in plain Python: a float32 input is widened
    to double before the fold, a mean that lands exactly on a 6dp
    half-boundary rounds up, and two equidistant centroids route to the
    lower label."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from hive_apache_ci_spark.pipeline.similarity import (
        explode_dims,
        mean_vectors,
        nearest_label,
        sq_l2,
    )

    a = [0.1, 2.5, -3.0]  # stored as float32: 0.1 widens inexactly
    b = [0.5, 2.0, 1.0]
    want = 0.0
    for x, y in zip(a, b):
        x = float(np.float32(x))
        want += (x - y) * (x - y)
    got = (
        spark.createDataFrame([(a, b)], "a array<float>, b array<double>")
        .select(sq_l2("a", "b").alias("d2"))
        .first()
        .d2
    )
    assert got == want

    vecs = [("k", [1.0, 0.000001, -0.000001]), ("k", [2.0, 0.0, 0.0])]
    df = spark.createDataFrame(vecs, "key string, embedding array<double>")
    got = mean_vectors(explode_dims(df, "key"), "key").first().cvec

    def mean6(xs):
        m = Decimal(repr(sum(xs) / len(xs) + 1e-12))
        return float(m.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    want = [mean6([v[1][d] for v in vecs]) for d in range(3)]
    # +-5e-07 sit on the half-boundary; the 1e-12 shift sends both up
    assert want == [1.5, 0.000001, 0.0]
    assert got == want

    cvecs = spark.createDataFrame(
        [(7, [0.0, 1.0]), (3, [1.0, 0.0])], "c_label int, cvec array<double>"
    )
    q = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 2.0])], "vec_id int, embedding array<double>"
    )
    routed = {r.vec_id: r.c_label for r in nearest_label(q, cvecs, "vec_id").collect()}
    assert routed == {1: 3, 2: 7}


def _enclosing_functions(pattern):
    """{(module, innermost function)} of every engine source match."""
    import ast
    import re

    from .test_scratch_discipline import _sources

    found = set()
    for rel, src in _sources():
        hits = [src.count("\n", 0, m.start()) + 1 for m in re.finditer(pattern, src)]
        if not hits:
            continue
        defs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for line in hits:
            inside = [d for d in defs if d.lineno <= line <= d.end_lineno]
            inner = min(inside, key=lambda d: d.end_lineno - d.lineno, default=None)
            found.add((rel, inner.name if inner else None))
    return found


def test_vector_kernels_have_one_definition():
    """Each vector kernel is written once: the squared-difference lambda
    only in sq_l2, a posexplode of an embedding array only in
    explode_dims, and the nearest-label argmin only in nearest_label."""
    sim = "pipeline/similarity.py"
    assert _enclosing_functions(
        r"lambda\s+(\w+),\s*(\w+):\s*\(\s*\1\b[^-\n]*-\s*\2\b"
    ) == {(sim, "sq_l2")}
    assert _enclosing_functions(
        r"posexplode\((?:col\)|(?:F\.col\()?[\"'](?:embedding|emb)[\"'])"
    ) == {(sim, "explode_dims")}
    assert _enclosing_functions(r"min_by\(\s*[\"']c_label[\"']") == {
        (sim, "nearest_label")
    }
