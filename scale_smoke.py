"""Scale smoke (SURVEY §5.5): synthetic backup history at millions of
rows, generated distributively (spark.range — no driver data), pushed
through the idempotent merge and the set-based fleet planner.

Run: python scale_smoke.py [n_rows]          (default 2,000,000)
Prints one JSON line with wall times; records go to BASELINE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from sqlbackuphistoryetl_spark.operators.merge import idempotent_append
from sqlbackuphistoryetl_spark.plans.chain_all import restore_plan_all
from sqlbackuphistoryetl_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
N_DBS = 2_000
LSN_BASE = "10000000000000000000000"  # 23 digits


def synthetic_history(spark, n: int):
    """n rows of roughly-valid chains across N_DBS databases × 8 servers:
    per db, sequence of backups every ~hour; every 24th a Full, every
    6th a Diff, rest contiguous Logs. All expressions JVM-side."""
    df = spark.range(0, n)
    db_id = (F.col("id") % N_DBS).cast("long")
    seq = (F.col("id") / N_DBS).cast("long")
    kind = (
        F.when(seq % 24 == 0, "Full").when(seq % 6 == 0, "Diff").otherwise("Log")
    )
    start = F.timestamp_seconds(F.lit(1704067200) + seq * 3600 + db_id % 1800)
    # the sink's declared type: decimal arithmetic widens the precision
    lsn_lo = (F.lit(LSN_BASE).cast("decimal(25,0)") + (seq * 1000 + db_id)).cast("decimal(25,0)")
    lsn_hi = (lsn_lo + 999).cast("decimal(25,0)")
    return df.select(
        F.col("id").alias("LogID"),
        F.concat(F.lit("db_"), F.lpad(db_id.cast("string"), 4, "0")).alias("database_name"),
        kind.alias("BackupType"),
        F.concat(F.lit("X:\\bk\\f_"), F.col("id").cast("string"), F.lit(".bak")).alias(
            "physical_device_name"
        ),
        start.alias("backup_start_date"),
        (start + F.expr("INTERVAL 5 MINUTES")).alias("backup_finish_date"),
        F.concat(F.lit("SQLNODE0"), (db_id % 8).cast("string")).alias("server_name"),
        F.when(db_id % 4 == 0, F.concat(F.lit("AG0"), (db_id % 2).cast("string"))).alias("ag_name"),
        F.lit("FULL").alias("recovery_model"),
        lsn_lo.alias("first_lsn"),
        lsn_hi.alias("last_lsn"),
        F.lit(1000).alias("UncompressedSizeMB"),
        F.lit(300).alias("CompressedSizeMB"),
        F.lit(False).alias("is_copy_only"),
        F.lit(None).cast("string").alias("encryptor_type"),
        F.lit(None).cast("string").alias("key_algorithm"),
        F.lit(2).alias("device_type"),
        F.lit(1).alias("position"),
        F.lit(None).cast("string").alias("DBFileInformation"),
    )


def synthetic_docs(spark, n: int):
    """n docs of ~40 tokens drawn deterministically from a 1k-word
    vocabulary (JVM-side: xxhash64-seeded picks, no driver data).
    Every 50th doc is a near-dup of its predecessor (same seed, one
    token swapped) so the dedup tiers have real positives to find."""
    df = spark.range(0, n)
    seed = F.when(F.col("id") % 50 == 0, F.col("id") - 1).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(seed, i), F.lit(1000)).cast("string")),
    )
    words = F.when(
        F.col("id") % 50 == 0, F.concat(F.slice(words, 1, 39), F.array(F.lit("wSWAP")))
    ).otherwise(words)
    return df.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def synthetic_embeddings(spark, n: int, dims: int = 64):
    """n deterministic pseudo-random unit-ish vectors, JVM-side."""
    df = spark.range(0, n)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2001)).cast("float") - 1000.0)
        / 1000.0,
    )
    return df.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def doc_pipeline_smoke(spark, n_docs: int, timings: dict) -> dict:
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        minhash_lsh_candidates,
        simhash_buckets,
    )
    from sqlbackuphistoryetl_spark.extensions.similarity import ivf_topk, rp_lsh_topk

    docs = synthetic_docs(spark, n_docs)
    t0 = time.perf_counter()
    n_exact = (
        docs.groupBy(F.md5("text").alias("h")).count().filter("count > 1").count()
    )
    timings["dedup_exact_groups"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    minhash_pairs = minhash_lsh_candidates(docs, text_col="text", id_col="doc_id")
    n_minhash = minhash_pairs.count()
    timings["dedup_minhash_lsh"] = round(time.perf_counter() - t0, 2)

    from sqlbackuphistoryetl_spark.extensions.clustering import (
        connected_components,
    )

    t0 = time.perf_counter()
    comp = connected_components(minhash_pairs)
    n_clusters = comp.select("comp").distinct().count()
    timings["dedup_cluster_cc"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_simhash = simhash_buckets(docs, text_col="text", id_col="doc_id").count()
    timings["dedup_simhash"] = round(time.perf_counter() - t0, 2)

    emb = synthetic_embeddings(spark, n_docs)
    queries = emb.filter(F.col("vec_id") < 100)
    t0 = time.perf_counter()
    n_ann = rp_lsh_topk(emb, queries, k=5).count()
    timings["ann_lsh_topk_100q"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_ivf = ivf_topk(emb, queries, k=5, n_centroids=256, n_probe=8).count()
    timings["ann_ivf_topk_100q"] = round(time.perf_counter() - t0, 2)

    # persistent inverted file (r5): build once, probe with partition
    # pruning — probe cost should sit well under the one-shot number
    # above, and stay flat as the corpus grows (it reads n_probe/C of
    # the cells, not the corpus).
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        ivf_build_index,
        ivf_probe_index,
        sampled_centroids,
    )

    ivf_dir = tempfile.mkdtemp(prefix="smoke_ivf_")
    try:
        cents = sampled_centroids(emb, 256)
        t0 = time.perf_counter()
        ivf_build_index(emb, ivf_dir, centroids=cents)
        timings["ivf_index_build"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_ivf_probe = ivf_probe_index(
            spark, ivf_dir, queries, cents, k=5, n_probe=8
        ).count()
        timings["ivf_index_probe_100q"] = round(time.perf_counter() - t0, 2)
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    # IVF-PQ (r9): residual codes + 2-probe ADC — encode is the
    # vectorized numpy pass (cost ~linear in vectors), search reads
    # only the probed cells' codes
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        ivf_pq_encode,
        ivf_pq_topk,
        pq_train,
    )

    t0 = time.perf_counter()
    books = pq_train(emb, m=8, k=64, sample=4000, iters=2)
    timings["pq_train_m8_k64"] = round(time.perf_counter() - t0, 2)
    coarse = [list(map(float, r["embedding"])) for r in
              emb.orderBy(F.md5(F.col("vec_id").cast("string")))
              .limit(64).collect()]
    t0 = time.perf_counter()
    idx = ivf_pq_encode(emb, coarse, books).localCheckpoint(eager=True)
    timings["ivf_pq_encode"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_ivfpq = ivf_pq_topk(idx, coarse, books, queries, n_probe=8, topk=5).count()
    timings["ivf_pq_topk_100q"] = round(time.perf_counter() - t0, 2)

    from sqlbackuphistoryetl_spark.extensions.dedup import minhash_lsh_cross
    from sqlbackuphistoryetl_spark.extensions.packing import pack_sequences

    t0 = time.perf_counter()
    n_cross = minhash_lsh_cross(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    ).count()
    timings["dedup_cross_corpus"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    with_tok = docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("n_tok"),
    )
    n_packed = pack_sequences(with_tok, "n_tok", ["doc_id"], seq_len=1024).count()
    timings["sequence_packing"] = round(time.perf_counter() - t0, 2)

    from sqlbackuphistoryetl_spark.extensions.sampling import global_sample_k
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        scalar_quantize_profile,
    )
    from sqlbackuphistoryetl_spark.extensions.versioning import (
        corpus_diff,
        diff_summary,
    )
    from sqlbackuphistoryetl_spark.functions.textfns import heavy_hitter_ngrams

    t0 = time.perf_counter()
    n_sample = global_sample_k(docs, 1000, "doc_id").count()
    timings["global_sample_1k"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_hh = heavy_hitter_ngrams(docs, "text", n=2, k=50).count()
    timings["heavy_hitter_bigrams"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_qdims = scalar_quantize_profile(emb).count()
    timings["quantize_profile"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    v2 = docs.filter(F.col("doc_id") % 97 != 0)
    n_diff = diff_summary(corpus_diff(docs, v2)).count()
    timings["corpus_diff"] = round(time.perf_counter() - t0, 2)

    # r3 curation additions: boilerplate strip (line-structured corpus:
    # a shared header every doc + unique body) and sessionization over
    # a synthetic event stream (n_docs events over ~300 users)
    from sqlbackuphistoryetl_spark.extensions.curation import (
        remove_boilerplate_lines,
        select_token_budget,
    )
    from sqlbackuphistoryetl_spark.operators.sessionize import session_stats

    lined = docs.select(
        "doc_id", F.concat(F.lit("SHARED NAV BAR\n"), F.col("text")).alias("text")
    )
    t0 = time.perf_counter()
    n_clean = (
        remove_boilerplate_lines(lined, min_docs=3)
        .filter(F.col("removed_lines") > 0)
        .count()
    )
    timings["boilerplate_strip"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_budget = select_token_budget(
        with_tok.withColumn("q", F.pmod(F.xxhash64("doc_id"), F.lit(1000))),
        n_docs * 20, "n_tok", "q", "doc_id",
    ).count()
    timings["token_budget_select"] = round(time.perf_counter() - t0, 2)

    ev = spark.range(0, n_docs).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(300)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(30 * 86400))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(10000)).cast("double") / 100.0
         ).alias("value"),
    )
    t0 = time.perf_counter()
    n_sessions = session_stats(ev, gap_minutes=30).count()
    timings["sessionize"] = round(time.perf_counter() - t0, 2)

    from sqlbackuphistoryetl_spark.extensions.curation import chunk_documents
    from sqlbackuphistoryetl_spark.functions.textfns import (
        unigram_surprisal_score,
    )
    from sqlbackuphistoryetl_spark.operators.sessionize import funnel_conversion

    ev_typed = ev.withColumn(
        "event_type",
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod(F.xxhash64("event_id", F.lit(13)), F.lit(3)) + 1).cast("int"),
        ),
    )
    t0 = time.perf_counter()
    n_funnel = funnel_conversion(ev_typed, ["view", "click", "purchase"]).count()
    timings["funnel"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_chunks = chunk_documents(docs, chunk_chars=120, overlap=20).count()
    timings["rag_chunking"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_surp = unigram_surprisal_score(docs).count()
    timings["unigram_surprisal"] = round(time.perf_counter() - t0, 2)

    from sqlbackuphistoryetl_spark.extensions.similarity import covariance_sums

    t0 = time.perf_counter()
    n_cov = covariance_sums(emb).count()
    timings["covariance_sums"] = round(time.perf_counter() - t0, 2)

    # r4 additions: BM25 relevance scan and asymmetric containment
    # (production shape: candidate-restricted re-score — near-dup
    # candidates are a sliver of a synthetic corpus this size). These
    # stages read a MATERIALIZED copy of the corpus: the synthetic-doc
    # generator is a pure expression tree, and the gram transform would
    # otherwise re-evaluate it per gram position (measured 28 s → 9 s
    # for the posting build at 200k docs) — a real parquet corpus never
    # has this shape, so the checkpoint keeps the measurement honest.
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        ngram_containment_pairs,
    )
    from sqlbackuphistoryetl_spark.functions.textfns import bm25_scores

    docs_m = docs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n_bm25 = bm25_scores(docs_m, ["w1", "w2", "w3"]).count()
    timings["bm25_scan"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_contain = ngram_containment_pairs(
        docs_m, n=3, min_containment=0.5, max_gram_df=10_000,
        rescore_candidates_only=True,
    ).count()
    timings["ngram_containment"] = round(time.perf_counter() - t0, 2)

    # r5: JSONL interchange at corpus scale — sharded export then
    # schema-enforced ingest; count-parity guards the cycle.
    from sqlbackuphistoryetl_spark.extensions.sharding import (
        write_sharded_jsonl,
    )
    from sqlbackuphistoryetl_spark.sources.text_corpus import (
        read_jsonl_corpus,
    )

    jl_dir = tempfile.mkdtemp(prefix="smoke_jsonl_")
    try:
        t0 = time.perf_counter()
        n_shards = write_sharded_jsonl(
            docs_m.select("doc_id", "text"), jl_dir, ["doc_id"],
            shard_size=50_000,
        )
        timings["jsonl_export"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_jsonl = read_jsonl_corpus(
            spark, jl_dir, "doc_id long, text string, ordinal long"
        ).count()
        timings["jsonl_ingest"] = round(time.perf_counter() - t0, 2)
        assert n_jsonl == n_docs, (n_jsonl, n_docs)
    finally:
        shutil.rmtree(jl_dir, ignore_errors=True)

    # r6: sliding-window exact-substring spans (hash_windows — the
    # 64-bit-key corpus path; every 50th doc is a near-dup sharing a
    # 39-token prefix, so real spans exist) and SemDeDup pruning (k
    # sized for ~200-vector cells: the pairwise stage is O(Σ n_c²) BY
    # DESIGN — the measurement tracks that published cost envelope).
    from sqlbackuphistoryetl_spark.extensions.dedup import (
        duplicated_window_spans,
    )
    from sqlbackuphistoryetl_spark.extensions.similarity import semdedup_prune

    t0 = time.perf_counter()
    n_spans = duplicated_window_spans(
        docs_m, window_tokens=8, hash_windows=True
    ).count()
    timings["dup_window_spans"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_semkeep = (
        semdedup_prune(
            emb, k_clusters=max(256, n_docs // 200), threshold=0.9
        )
        .filter("not keep")
        .count()
    )
    timings["semdedup_prune"] = round(time.perf_counter() - t0, 2)

    # r6 late additions: the two corpus-heavy tokenizer/statistics
    # passes (PMI collocations, BPE pair counting — both all-token
    # explodes with map-side-partial aggregation) plus the UniMax
    # budget split (one hash agg + a languages-sized window; measured
    # to prove the waterfilling adds nothing on top of the count pass).
    from sqlbackuphistoryetl_spark.extensions.lm_filter import (
        pmi_collocations,
    )
    from sqlbackuphistoryetl_spark.extensions.sampling import (
        unimax_allocation,
    )
    from sqlbackuphistoryetl_spark.functions.textfns import bpe_pair_counts

    t0 = time.perf_counter()
    n_pmi = pmi_collocations(docs_m, min_count=5, k=100).count()
    timings["pmi_collocations"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_bpe = bpe_pair_counts(docs_m, k=50).count()
    timings["bpe_pair_counts"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    from sqlbackuphistoryetl_spark.extensions.bpe import (
        bpe_fit,
        bpe_segment_corpus,
    )

    merges = bpe_fit(docs_m, n_merges=10)
    timings["bpe_fit_10_merges"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_bpe_seg = bpe_segment_corpus(docs_m, merges).count()
    timings["bpe_segment_corpus"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    tok = docs_m.select(
        "doc_id",
        # synthetic 20-language SKEWED mix (language k holds 2k+1/400
        # of the docs) so the waterfilling caps the tail languages and
        # waterfills the head at any corpus size — a uniform mix would
        # degenerate to the all-uncapped branch
        F.concat(
            F.lit("l"),
            F.floor(F.sqrt(F.pmod(F.col("doc_id"), F.lit(400)))).cast("int"),
        ).alias("lang"),
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias(
            "n_tokens"
        ),
    )
    total = tok.agg(F.sum("n_tokens").cast("bigint").alias("t")).collect()[0][
        "t"
    ]
    n_unimax = unimax_allocation(tok, (9 * int(total)) // 5, 2).count()
    timings["unimax_allocation"] = round(time.perf_counter() - t0, 2)

    # r7 additions: PassJoin exact edit-distance join (multi-match-aware
    # O(d²) probe windows over 40-char prefixes), the Gopher repetition
    # composite (hash-agg frequency election), the FineWeb custom trio
    # (map-side), and the BPE id→text decode round trip (one-row
    # broadcast vocab map — count-parity guards losslessness).
    from sqlbackuphistoryetl_spark.extensions.bpe import (
        bpe_decode_corpus,
        bpe_encode_corpus,
        bpe_vocab_table,
    )
    from sqlbackuphistoryetl_spark.extensions.dedup import edit_distance_join
    from sqlbackuphistoryetl_spark.functions.textfns import (
        fineweb_quality_flags,
        gopher_repetition,
    )

    short = docs_m.select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    t0 = time.perf_counter()
    n_edit = edit_distance_join(short, max_dist=2).count()
    timings["edit_distance_join_d2"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    # noop write, NOT count(): count() lets Catalyst prune the stat
    # columns and skip the gram election entirely (the r8 measurement
    # lesson in BASELINE.md), which is what this smoke exists to time
    rep = gopher_repetition(docs_m, hash_grams=True)
    rep.write.format("noop").mode("overwrite").save()
    timings["gopher_repetition"] = round(time.perf_counter() - t0, 2)
    n_goprep = rep.count()

    t0 = time.perf_counter()
    n_fineweb = (
        docs_m.select("doc_id", *fineweb_quality_flags("text"))
        .filter("pass_fineweb")
        .count()
    )
    timings["fineweb_quality"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    enc = bpe_encode_corpus(docs_m, merges)
    dec = bpe_decode_corpus(enc, bpe_vocab_table(docs_m, merges))
    n_dec = dec.filter(F.length("text") > 0).count()
    timings["bpe_decode_roundtrip"] = round(time.perf_counter() - t0, 2)
    assert n_dec == n_docs, (n_dec, n_docs)

    # codec-chain throughput (r8): real container encode->parse->hash
    # over a 20k-payload slice — embarrassingly parallel mapInPandas,
    # so the number to watch is per-payload cost staying flat, not the
    # total. Payload content derives from the doc text (same fixture
    # doctrine as the driver gates).
    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        audio_fingerprint,
        image_dhash,
        sample_frames,
    )

    pay = docs_m.filter(F.col("doc_id") < 20_000).select("doc_id", "text")

    def _mk_payloads(it):
        import re

        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.avi_codec import encode_avi
        from sqlbackuphistoryetl_spark.extensions.jpeg_codec import (
            QUANT_FLAT8,
            encode_jpeg,
        )
        from sqlbackuphistoryetl_spark.extensions.png_codec import (
            DecodedImage,
            encode_png,
        )
        from sqlbackuphistoryetl_spark.extensions.wav_codec import (
            DecodedAudio,
            encode_wav,
        )

        def mk(row):
            s = re.sub(r"[^ -~]", "?", row.text)[:128].ljust(128, " ")
            b = s.encode("ascii")
            kind = row.doc_id % 4
            if kind == 0:
                return encode_png(b[:128], 16, 8, 1)
            if kind == 1:
                px = bytes(b[(r // 8) * 9 + c // 8] for r in range(64) for c in range(72))
                return encode_jpeg(px, 72, 64, 1, quant_luma=QUANT_FLAT8)
            if kind == 2:
                return encode_wav(DecodedAudio(8000, 1, [(x - 80) * 256 for x in b]))
            frames = [
                DecodedImage(4, 4, 3, bytes(b[f * 16 + i] for i in range(16) for _ in range(3)))
                for f in range(6)
            ]
            return encode_avi(frames)

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [mk(r) for r in pdf.itertuples(index=False)],
                }
            )

    payloads = pay.mapInPandas(
        _mk_payloads, "doc_id long, payload binary"
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n_img_hashed = (
        image_dhash(payloads).filter(F.col("dhash").isNotNull()).count()
    )
    timings["codec_image_dhash_20k"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_audio_fp = (
        audio_fingerprint(payloads).filter(F.col("afp").isNotNull()).count()
    )
    timings["codec_audio_fp_20k"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_avi_frames = (
        sample_frames(payloads, stride=2)
        .filter(F.col("decoder") == "avi-dib")
        .count()
    )
    timings["codec_avi_frames_20k"] = round(time.perf_counter() - t0, 2)

    # r10: the r9 operators' scaling claims, measured (r9 verdict
    # task 6). WordPiece/unigram segment the FULL corpus — their cost
    # model is Python-once-per-DISTINCT-word + a broadcast join-back,
    # so the number to watch is wall time tracking the distinct-word
    # count, not the doc count.
    from sqlbackuphistoryetl_spark.extensions.multimodal import media_info
    from sqlbackuphistoryetl_spark.extensions.unigram import (
        unigram_segment_corpus,
    )
    from sqlbackuphistoryetl_spark.extensions.webdataset import (
        read_webdataset,
        write_webdataset,
    )
    from sqlbackuphistoryetl_spark.extensions.wordpiece import (
        wordpiece_segment_corpus,
    )

    wp_vocab = [
        "th", "he", "an",
        "a", "t", "h", "e", "s", "o", "i", "n", "d",
        "##th", "##he", "##an",
        "##a", "##t", "##h", "##e", "##s", "##o", "##i", "##n", "##d",
    ]
    t0 = time.perf_counter()
    n_wp = (
        wordpiece_segment_corpus(docs_m, wp_vocab)
        .filter(F.col("n_tokens") > 0)
        .count()
    )
    timings["wordpiece_segment"] = round(time.perf_counter() - t0, 2)

    uni_vocab = {
        "th": 3, "he": 3, "an": 4,
        "a": 6, "t": 6, "h": 7, "e": 5, "s": 6, "o": 6, "i": 6,
        "n": 6, "d": 7,
    }
    t0 = time.perf_counter()
    n_uni = (
        unigram_segment_corpus(docs_m, uni_vocab)
        .filter(F.col("n_tokens") > 0)
        .count()
    )
    timings["unigram_segment"] = round(time.perf_counter() - t0, 2)

    # webdataset: 20k samples (2 members each) written as tar shards
    # then scanned back — the write (range shuffle + per-task packing)
    # IS the operator; the read is one shard per task
    wds_dir = tempfile.mkdtemp(prefix="scale_smoke_wds_")
    members = pay.select(
        F.concat(F.lit("k"), F.format_string("%07d", "doc_id")).alias("key"),
        F.lit("txt").alias("ext"),
        F.encode("text", "utf-8").alias("payload"),
    ).unionByName(
        pay.select(
            F.concat(F.lit("k"), F.format_string("%07d", "doc_id")).alias("key"),
            F.lit("cls").alias("ext"),
            F.encode((F.col("doc_id") % 10).cast("string"), "utf-8").alias("payload"),
        )
    )
    t0 = time.perf_counter()
    shards = write_webdataset(members, wds_dir, samples_per_shard=256)
    timings["webdataset_write_20k"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_wds_members = read_webdataset(spark, wds_dir, fan_out=64).count()
    timings["webdataset_read_20k"] = round(time.perf_counter() - t0, 2)
    shutil.rmtree(wds_dir, ignore_errors=True)

    # r11: WARC — 20k response records written as one-gzip-member-per-
    # record shards (the Common Crawl layout) then record-walked back;
    # like webdataset, the write (ordinal shuffle + per-task gzip
    # packing) IS the sink operator and the read is one shard per task
    from sqlbackuphistoryetl_spark.sources.warc import read_warc_gz, write_warc

    warc_dir = tempfile.mkdtemp(prefix="scale_smoke_warc_")
    recs = pay.select(
        F.concat(
            F.lit("http://example.com/d/"), F.format_string("%07d", "doc_id")
        ).alias("target_uri"),
        F.lit("response").alias("warc_type"),
        F.lit("2025-01-01T00:00:00Z").alias("warc_date"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("http_content_type"),
    )
    t0 = time.perf_counter()
    write_warc(recs, warc_dir, records_per_shard=256)
    timings["warc_write_20k"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_warc = (
        read_warc_gz(spark, warc_dir, fan_out=64)
        .filter(F.col("http_status") == 200)
        .count()
    )
    timings["warc_read_20k"] = round(time.perf_counter() - t0, 2)
    shutil.rmtree(warc_dir, ignore_errors=True)

    # r11: crawl frontier over n_docs discovered URLs (2 variants per
    # page, 1000 hosts with robots.txt, 10% already seen, cap 8) —
    # canonical dedup + anti-join + governance join + one domain window
    from sqlbackuphistoryetl_spark.extensions.frontier import crawl_frontier
    from sqlbackuphistoryetl_spark.functions.robotsfns import parse_robots

    host = F.concat(
        F.lit("www.h"), (F.col("id") % 1000).cast("string"), F.lit(".com")
    )
    page = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("id").cast("string")
    )
    dirty = F.concat(
        F.lit("HTTPS://"), F.upper(host), F.lit(":443/p/"),
        F.col("id").cast("string"), F.lit("?utm_source=x#f"),
    )
    base = spark.range(0, n_docs // 2)
    discovered = base.select(
        F.explode(F.array(page, dirty)).alias("url"),
        (F.col("id") % 17).alias("pri"),
    )
    seen = base.filter(F.col("id") % 10 == 0).select(page.alias("url"))
    robots = (
        spark.range(0, 1000)
        .select(
            F.concat(F.lit("www.h"), F.col("id").cast("string"),
                     F.lit(".com")).alias("host"),
            F.lit("User-agent: *\nDisallow: /p/7\n").alias("robots_txt"),
        )
    )
    t0 = time.perf_counter()
    n_frontier = crawl_frontier(
        discovered, seen, parse_robots(robots), "graftbot",
        per_domain_cap=8, priority_col="pri",
    ).count()
    timings["crawl_frontier"] = round(time.perf_counter() - t0, 2)

    # r12: main-content extraction over n_docs synthetic pages — nav +
    # article + link-dense footer per page; the classification is one
    # map-side array pipeline, so wall should track the scan
    from sqlbackuphistoryetl_spark.extensions.maincontent import (
        main_content_extract,
    )

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<nav><a href="/">Home</a> <a href="/a">About</a> '
                  '<a href="/c">Contact</a></nav><h2>Chapter '),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("</h2><p>"),
            F.col("text"),
            F.lit('</p><div>(c) <a href="/p">Privacy</a> '
                  '<a href="/t">Terms</a> <a href="/i">Imprint</a>'
                  "</div>"),
        ).alias("html"),
    )
    t0 = time.perf_counter()
    n_main = (
        pages.select(
            main_content_extract("html", context=True).alias("t")
        )
        .filter(F.length("t") > 0)
        .count()
    )
    timings["main_content_extract"] = round(time.perf_counter() - t0, 2)

    # r12: unigram-LM trainer at corpus scale — distinct-word-bounded
    # E-step, vocab-sized everything else: wall should be corpus-flat
    from sqlbackuphistoryetl_spark.extensions.unigram import unigram_fit

    t0 = time.perf_counter()
    # default \S+ words: the synthetic vocab is w0..w999, so pieces
    # learn over the digit tails (the [a-z]+ gate pattern would
    # degenerate to a single 'w' token here)
    uni_vocab = unigram_fit(
        docs, seed_multi=40, prune_to_multi=24, n_iters=1,
    )
    timings["unigram_fit"] = round(time.perf_counter() - t0, 2)

    # r12: text -> feature-hashed vectors -> SemDeDup end-to-end, the
    # published k ~ n/312 cell sizing
    from sqlbackuphistoryetl_spark.extensions.similarity import (
        embed_hashed_text,
        semdedup_prune,
    )

    t0 = time.perf_counter()
    hv = embed_hashed_text(docs, dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).localCheckpoint(eager=True)
    n_semtext = (
        semdedup_prune(
            hv, k_clusters=max(16, n_docs // 312), threshold=0.90
        )
        .filter(~F.col("keep"))
        .count()
    )
    timings["semdedup_text"] = round(time.perf_counter() - t0, 2)

    # r12: .jsonl.zst interchange over a 20k slice (raw-block frames)
    from sqlbackuphistoryetl_spark.extensions.zstd_codec import (
        read_jsonl_zst,
        write_jsonl_zst,
    )

    zst_dir = tempfile.mkdtemp(prefix="scale_smoke_zst_")
    slice20 = docs.filter(F.col("doc_id") < 20_000)
    t0 = time.perf_counter()
    write_jsonl_zst(slice20, zst_dir, "doc_id", records_per_shard=256)
    timings["jsonl_zst_write_20k"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_zst = read_jsonl_zst(
        spark, zst_dir, "doc_id long, text string", fan_out=64
    ).count()
    timings["jsonl_zst_read_20k"] = round(time.perf_counter() - t0, 2)
    shutil.rmtree(zst_dir, ignore_errors=True)

    # media_info triage over the mixed 20k codec slice: header walks
    # only — per-payload cost must stay far below the decode stages
    t0 = time.perf_counter()
    n_media = (
        media_info(payloads).filter(F.col("format") != "unknown").count()
    )
    timings["media_info_20k"] = round(time.perf_counter() - t0, 2)

    # r10: PDF chain over a 20k slice — build (write side), then
    # text extraction (object scan + inflate + operator walk)
    from sqlbackuphistoryetl_spark.extensions.multimodal import (
        extract_pdf_text,
    )

    def _mk_pdfs(it):
        import re as _re

        import pandas as pd

        from sqlbackuphistoryetl_spark.extensions.pdf_codec import build_pdf

        def mk(d, t):
            s = _re.sub(r"[^ -~]", "?", t)[:120].ljust(120, " ")
            lines = [s[j * 20 : (j + 1) * 20] for j in range(6)]
            return build_pdf([lines[:3], lines[3:]], compress=(d % 2 == 0))

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    pdfs = pay.mapInPandas(
        _mk_pdfs, "doc_id long, payload binary"
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n_pdf = (
        extract_pdf_text(pdfs).filter(F.col("status") == "ok").count()
    )
    timings["pdf_extract_text_20k"] = round(time.perf_counter() - t0, 2)

    return {
        "wordpiece_docs": n_wp,
        "unigram_docs": n_uni,
        "wds_shards": len(shards),
        "wds_members": n_wds_members,
        "warc_responses": n_warc,
        "frontier_selected": n_frontier,
        "main_content_pages": n_main,
        "unigram_vocab": len(uni_vocab),
        "semdedup_text_pruned": n_semtext,
        "jsonl_zst_rows": n_zst,
        "media_known": n_media,
        "pdf_ok": n_pdf,
        "edit_pairs_d2": n_edit,
        "gopher_rep_docs": n_goprep,
        "fineweb_pass": n_fineweb,
        "bpe_decoded_docs": n_dec,
        "pmi_rows": n_pmi,
        "bpe_rows": n_bpe,
        "bpe_seg_docs": n_bpe_seg,
        "n_bpe_merges": len(merges),
        "unimax_langs": n_unimax,
        "span_rows": n_spans,
        "semdedup_pruned": n_semkeep,
        "bm25_docs": n_bm25,
        "containment_pairs": n_contain,
        "exact_dup_groups": n_exact,
        "minhash_pairs": n_minhash,
        "dup_clusters": n_clusters,
        "simhash_pairs": n_simhash,
        "ann_rows": n_ann,
        "ivf_rows": n_ivf,
        "ivf_probe_rows": n_ivf_probe,
        "ivf_pq_rows": n_ivfpq,
        "cross_pairs": n_cross,
        "packed_spans": n_packed,
        "sample_rows": n_sample,
        "heavy_hitters": n_hh,
        "quantized_dims": n_qdims,
        "diff_statuses": n_diff,
        "boilerplate_cleaned": n_clean,
        "budget_selected": n_budget,
        "sessions": n_sessions,
        "funnel_users": n_funnel,
        "chunks": n_chunks,
        "jsonl_shards": n_shards,
        "surprisal_docs": n_surp,
        "cov_terms": n_cov,
    }


def main() -> None:
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="scale_smoke_")
    target = f"{tmp}/consolidated"
    timings = {}

    hist = synthetic_history(spark, N)

    t0 = time.perf_counter()
    appended = idempotent_append(spark, hist, target)
    timings["initial_merge"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    replayed = idempotent_append(
        spark, synthetic_history(spark, N // 10), target,
    )
    timings["replay_merge_10pct"] = round(time.perf_counter() - t0, 2)

    sink = spark.read.parquet(target)
    import datetime as dt

    t0 = time.perf_counter()
    plan = restore_plan_all(sink, dt.datetime(2024, 1, 25, 12, 0))
    n_steps = plan.count()
    timings["fleet_plan_all"] = round(time.perf_counter() - t0, 2)

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    doc_stats = doc_pipeline_smoke(spark, n_docs, timings)

    print(
        json.dumps(
            {
                "rows": N,
                "appended": appended,
                "replay_appended": replayed,
                "plan_steps": n_steps,
                "n_docs": n_docs,
                **doc_stats,
                "timings_sec": timings,
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
