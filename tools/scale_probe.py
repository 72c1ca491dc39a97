"""Scale probes: run the NEW operators on synthetic data 100-1000x the
test-fixture size and record wall times. Evidence for the would-it-hold-
at-100TB question (PLANS.md cites these numbers).

Usage: python tools/scale_probe.py [docs|ann|skew|all]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from ssis_to_pyspark_agent_spark.operators import get_operator  # noqa: E402
from ssis_to_pyspark_agent_spark.session import get_spark  # noqa: E402

VOCAB = [f"tok{i}" for i in range(500)]


def probe_docs(spark, n_docs=500_000, words_per_doc=80):
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc)),
                    lambda i: F.element_at(
                        vocab, (F.pmod(F.xxhash64(F.col("id"), i), 500) + 1).cast("int")
                    ),
                ),
            ).alias("text"),
        )
    )
    # inject ~2% near-duplicates (one appended token ≈ jaccard 0.96)
    dups = (
        base.filter(F.pmod(F.col("doc_id"), 50) == 0)
        .select(
            (F.col("doc_id") + n_docs).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extradup")).alias("text"),
        )
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()

    t0 = time.perf_counter()
    out = get_operator("dedup.minhash")(
        spark, [docs],
        {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
         "num_hashes": 128, "bands": 16, "return_pairs": True},
        {},
    )
    pairs = out["pairs"].count()
    survivors = out["out"].count()
    dt = time.perf_counter() - t0
    print(f"PROBE docs: n={total} minhash_dedup={dt:.1f}s pairs={pairs} "
          f"survivors={survivors} ({total/dt:,.0f} docs/s)")
    docs.unpersist()


def probe_simhash(spark, n_docs=500_000, words_per_doc=80):
    """Same corpus shape as probe_docs; exercises the numpy fingerprint
    path (per-token xxhash64 JVM-side, 60-bit vote matrix per doc in one
    numpy kernel) + pigeonhole chunk join."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc)),
                    lambda i: F.element_at(
                        vocab, (F.pmod(F.xxhash64(F.col("id"), i), 500) + 1).cast("int")
                    ),
                ),
            ).alias("text"),
        )
    )
    dups = (
        base.filter(F.pmod(F.col("doc_id"), 50) == 0)
        .select(
            (F.col("doc_id") + n_docs).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extradup")).alias("text"),
        )
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()

    t0 = time.perf_counter()
    out = get_operator("dedup.simhash")(
        spark, [docs],
        {"id_col": "doc_id", "text_col": "text", "max_distance": 3,
         "return_pairs": True},
        {},
    )
    pairs = out["pairs"].count()
    survivors = out["out"].count()
    dt = time.perf_counter() - t0
    print(f"PROBE simhash: n={total} dedup={dt:.1f}s pairs={pairs} "
          f"survivors={survivors} ({total/dt:,.0f} docs/s)")
    docs.unpersist()


def probe_ann(spark, n_vec=200_000, dim=64, n_q=100, k=10):
    import array

    def vec(seed_col):
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.xxhash64(seed_col, i), 2000) - 1000).cast("float")
            / 1000.0,
        )

    corpus = (
        spark.range(n_vec)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), vec(F.col("id")).alias("embedding"))
        .persist()
    )
    corpus.count()
    queries = corpus.filter(F.col("vec_id") < n_q)

    cfg = {"id_col": "vec_id", "vec_col": "embedding",
           "query_id_col": "vec_id", "query_vec_col": "embedding", "k": k}
    for label, conf in (
        ("bruteforce_expr", {**cfg}),
        ("bruteforce_pandas", {**cfg, "method": "pandas"}),
        ("lsh", {**cfg, "dim": dim, "lsh_tables": 8, "lsh_bits": 12}),
    ):
        op = "similarity.topk_lsh" if label == "lsh" else "similarity.topk_bruteforce"
        t0 = time.perf_counter()
        n = get_operator(op)(spark, [corpus, queries], conf, {}).count()
        dt = time.perf_counter() - t0
        print(f"PROBE ann {label}: corpus={n_vec} q={n_q} k={k} "
              f"{dt:.1f}s rows={n} ({n_vec*n_q/dt:,.0f} cmp/s equiv)")
    corpus.unpersist()


def probe_skew(spark, n_left=20_000_000, n_right=500_000, salt=16):
    left = spark.range(n_left).select(
        F.when(F.pmod(F.col("id"), 10) < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(n_right).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for label, conf in (
            ("plain", {}),
            ("salted", {"skew_salt": salt}),
        ):
            t0 = time.perf_counter()
            n = get_operator("join")(
                spark, [left, right],
                {"how": "inner", "keys": ["k"],
                 "select_left": ["k", "v"], "select_right": ["w"], **conf},
                {},
            ).count()
            print(f"PROBE skew {label}: {time.perf_counter()-t0:.1f}s rows={n}")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def probe_embdedup(spark, n_vec=200_000, dim=64):
    """Embedding near-dedup at 200k vectors with 1% planted near-dups
    (x*1.0001 scaling => cosine ~1). Exercises the auto-sized hyperplane
    LSH (bits from corpus size, tables from the threshold recall bound):
    fixed 8-bit defaults found 4/2000 planted dups in 69s (bucket_cap
    truncation); auto sizing finds 2000/2000 in ~30s."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0),
    )
    base = spark.range(n_vec).repartition(32).select(
        F.col("id").alias("vid"), vec.alias("v")
    )
    dups = base.filter(F.pmod("vid", 100) == 0).select(
        (F.col("vid") + n_vec).alias("vid"),
        F.transform("v", lambda x: x * 1.0001).alias("v"),
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()
    for label, extra in (
        ("float/join-verify", {}),
        ("quantized/join-verify", {"quantize": 10000}),
        ("quantized/bucket-verify", {"quantize": 10000,
                                     "verify_impl": "bucket"}),
    ):
        t0 = time.perf_counter()
        n = get_operator("dedup.embedding")(
            spark, [docs],
            {"id_col": "vid", "vec_col": "v", "threshold": 0.98,
             "dim": dim, **extra}, {},
        ).count()
        dt = time.perf_counter() - t0
        print(
            f"PROBE embdedup {label}: n={total} {dt:.1f}s survivors={n} "
            f"dups_removed={total - n}/{n_vec // 100}"
        )
    docs.unpersist()


def probe_semantic(spark, n_vec=500_000, dim=64, n_clusters=512):
    """dedup.semantic (SemDeDup) at 500k vectors / 512 kmeans clusters
    with 1% planted near-dups. The cost model is assignment (one numpy
    matmul per Arrow batch) + sum(|cluster|^2) within-cluster verify —
    at even occupancy ~1k rows/cluster that is ~500M pair-cosines
    upper-bounded, but the einsum verify only materializes over-threshold
    pairs. Planted dups are scale-perturbed copies (cosine ~1), so they
    always share a cluster with their original: recall must be 100%."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0),
    )
    base = spark.range(n_vec).repartition(32).select(
        F.col("id").alias("vid"), vec.alias("v")
    )
    dups = base.filter(F.pmod("vid", 100) == 0).select(
        (F.col("vid") + n_vec).alias("vid"),
        F.transform("v", lambda x: x * 1.0001).alias("v"),
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()
    t0 = time.perf_counter()
    out = get_operator("dedup.semantic")(
        spark, [docs],
        {"id_col": "vid", "vec_col": "v", "threshold": 0.98,
         "n_clusters": n_clusters, "kmeans": True, "quantize": 10000},
        {},
    )
    n = out.count()
    dt = time.perf_counter() - t0
    print(
        f"PROBE semantic: n={total} clusters={n_clusters} {dt:.1f}s "
        f"({total/dt:,.0f} vec/s) survivors={n} "
        f"dups_removed={total - n}/{n_vec // 100}"
    )
    docs.unpersist()


def probe_semantic_boundary(spark, n_vec=500_000, dim=64):
    """SemDeDup's inherent recall boundary (round-5 verdict item): a
    near-dup pair whose endpoints land in DIFFERENT clusters is unscored
    by design. Plant ANGLED near-dups (random-direction perturbation,
    cosine ~0.989 expected vs threshold 0.98 — unlike the scale-copy
    probe, these can cross a cluster boundary), compute the TRUE
    over-threshold pair set directly, and record recall + split rate vs
    n_clusters, then the verify_nprobe=2 mitigation."""
    from ssis_to_pyspark_agent_spark.operators.similarity import (
        _pair_cosine_frame,
    )

    thr = 0.98
    q = 10000
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0),
    )
    pert = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id"), i, F.lit(99)), 1000) / 500.0 - 1.0
        ),
    )
    base = spark.range(n_vec).repartition(32).select(
        F.col("id").alias("vid"), vec.alias("v")
    )
    dups = spark.range(n_vec).filter(F.pmod("id", 100) == 0).select(
        (F.col("id") + n_vec).alias("vid"),
        F.zip_with(vec, pert, lambda x, y: x + F.lit(0.15) * y).alias("v"),
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()

    planted = (
        base.filter(F.pmod("vid", 100) == 0)
        .select(F.col("vid").alias("a"), F.col("v").alias("_va"))
        .join(
            dups.select(
                (F.col("vid") - n_vec).alias("a"),
                F.col("vid").alias("b"),
                F.col("v").alias("_vb"),
            ),
            "a",
        )
    )
    true_pairs = (
        _pair_cosine_frame(planted, "_va", "_vb", ["a", "b"], q)
        .filter(F.col("cosine") >= thr)
        .select("a", "b")
        .persist()
    )
    nt = true_pairs.count()

    for n_clusters, nprobe in ((128, 1), (512, 1), (2048, 1), (512, 2)):
        t0 = time.perf_counter()
        out = get_operator("dedup.semantic")(
            spark, [docs],
            {"id_col": "vid", "vec_col": "v", "threshold": thr,
             "n_clusters": n_clusters, "kmeans": True, "quantize": q,
             "verify_nprobe": nprobe, "return_pairs": True,
             "return_assignments": True},
            {},
        )
        found = out["pairs"].join(true_pairs, ["a", "b"], "left_semi").count()
        asg = out["assignments"]
        split = (
            true_pairs
            .join(asg.withColumnsRenamed({"vid": "a", "cluster": "_ca"}), "a")
            .join(asg.withColumnsRenamed({"vid": "b", "cluster": "_cb"}), "b")
            .filter(F.col("_ca") != F.col("_cb"))
            .count()
        )
        dt = time.perf_counter() - t0
        print(
            f"PROBE semantic_boundary: n={total} clusters={n_clusters} "
            f"nprobe={nprobe} {dt:.1f}s true={nt} found={found} "
            f"recall={found/nt:.4f} boundary_split={split} "
            f"({split/nt:.4f} of true pairs)"
        )
        out["pairs"].unpersist()
        # the assignments port intentionally retains its cache (the
        # operator documents ports-case retention); ~260MB/run here
    true_pairs.unpersist()
    docs.unpersist()


def probe_cdc(spark, n_dim=20_000_000, n_upd=200_000, n_del=100_000):
    """The flagship (q50) CDC path at 1000x the bench dimension size:
    merge_upsert / merge_delete / scd2 against a 20M-row dimension with a
    1% update batch. The scale question: does the big dimension get
    shuffled, or does AQE turn every delta join into a broadcast probe?"""
    dim = spark.range(n_dim).repartition(32).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("int").alias("attr"),
        F.xxhash64("id").alias("checksum"),
    ).persist()
    dim.count()
    stride = n_dim // n_upd
    upd = spark.range(n_upd).select(
        (F.col("id") * stride).alias("k"),
        ((F.col("id") + 1) % 1000).cast("int").alias("attr"),
        F.xxhash64("id", F.lit(7)).alias("checksum"),
    )
    dels = spark.range(n_del).select(
        (F.col("id") * (n_dim // n_del) + 1).alias("k")
    )

    t0 = time.perf_counter()
    n = get_operator("merge_upsert")(
        spark, [dim, upd],
        {"keys": ["k"], "when_matched": "u.checksum != t.checksum"}, {},
    ).count()
    print(f"PROBE cdc merge_upsert: {time.perf_counter()-t0:.1f}s rows={n}")

    t0 = time.perf_counter()
    n = get_operator("merge_delete")(
        spark, [dim, dels], {"keys": ["k"]}, {},
    ).count()
    print(f"PROBE cdc merge_delete: {time.perf_counter()-t0:.1f}s rows={n}")

    dim2 = dim.withColumn(
        "effective_from", F.to_timestamp(F.lit("2020-01-01"))
    ).withColumn("effective_to", F.lit(None).cast("timestamp")).withColumn(
        "is_current", F.lit(True)
    )
    t0 = time.perf_counter()
    n = get_operator("scd2")(
        spark, [dim2, upd],
        {"keys": ["k"], "tracked": ["attr", "checksum"],
         "as_of": "2025-06-01 00:00:00"}, {},
    ).count()
    print(f"PROBE cdc scd2: {time.perf_counter()-t0:.1f}s rows={n}")
    dim.unpersist()


def probe_hygiene(spark, n_docs=20_000_000):
    """The q44 hygiene pass (text.redact + text.decontaminate) at 20M
    docs. redact is a pure JVM regex chain (scan-bound: the question is
    docs/s); decontaminate's only shuffle is the per-doc groupBy of
    benchmark-shingle matches — the benchmark side stays a broadcast."""
    base = spark.range(n_docs).repartition(64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("user record "),
            F.when(F.pmod("id", 17) == 0,
                   F.concat(F.lit("contact me at u"),
                            F.col("id").cast("string"),
                            F.lit("@example.com now ")))
            .otherwise(F.lit("no contact here ")),
            F.when(F.pmod("id", 31) == 0, F.lit("call 555-123-4567 "))
            .otherwise(F.lit("")),
            # ~1% of docs carry the benchmark 8-gram; the rest break it
            # with a per-doc token so the broadcast-shingle probe misses
            F.when(F.pmod("id", 100) == 0,
                   F.lit("the quick brown fox jumps over the lazy dog "
                         "segment tail"))
            .otherwise(F.concat(
                F.lit("the quick brown fox x"),
                F.col("id").cast("string"),
                F.lit(" jumps over the lazy dog segment tail"))),
            F.lit(" "),
            F.col("id").cast("string"),
        ).alias("text"),
    ).persist()
    total = base.count()

    t0 = time.perf_counter()
    red = get_operator("text.redact")(
        spark, [base], {"text_col": "text", "out": "red"}, {})
    n_pii = red.filter(F.col("n_email") + F.col("n_phone") > 0).count()
    dt = time.perf_counter() - t0
    print(f"PROBE hygiene redact: n={total} {dt:.1f}s pii_rows={n_pii} "
          f"({total/dt:,.0f} docs/s)")

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog segment tail")],
        "doc_id int, text string",
    )
    t0 = time.perf_counter()
    out = get_operator("text.decontaminate")(
        spark, [base, bench],
        {"id_col": "doc_id", "text_col": "text", "shingle_k": 8}, {})
    n_cont = out.filter("contaminated").count()
    dt = time.perf_counter() - t0
    print(f"PROBE hygiene decontaminate: n={total} {dt:.1f}s "
          f"contaminated={n_cont} ({total/dt:,.0f} docs/s)")
    base.unpersist()


def _planted_dup_corpus(base, n_docs):
    """Append the standard 1% planted near-dups (+n_docs id offset, one
    appended token -> J ~ 0.96). ONE definition so every probe's
    recall/planted accounting stays comparable."""
    dups = base.filter(F.pmod("doc_id", 100) == 0).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extradup")).alias("text"),
    )
    return base.unionByName(dups)


def _uniform_corpus(spark, n_docs, words_per_doc=80):
    """Uniform-vocab corpus + planted dups — the BEST case for every
    gram/band/bucket distribution. Shared by probe_ngram and the
    ngram_auto A/B so their numbers are the same rig."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc)),
                    lambda i: F.element_at(
                        vocab,
                        (F.pmod(F.xxhash64(F.col("id"), i), 500) + 1)
                        .cast("int"),
                    ),
                ),
            ).alias("text"),
        )
    )
    return _planted_dup_corpus(base, n_docs)


def _adv_corpus(spark, n_docs):
    """Zipf(s=1, 50k vocab) + 2 planted boilerplate lines per doc +
    planted dups — the adversarial rig. Shared by probe_adversarial and
    the ngram_auto A/B."""
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            _zipf_lines_expr(10, 8, vocab=50_000, salt=3, boiler=BOILER)
            .alias("text"),
        )
    )
    return _planted_dup_corpus(base, n_docs)


def probe_ngram(spark, n_docs=200_000, words_per_doc=80):
    """The q31 exact ngram-Jaccard pass at 200k docs (20x the sf0.1
    documents table): multi-probe length blocking + size-ratio prefilter.
    Reports the candidate-pair count the block join emits — the scale
    metric — alongside wall time; payload shingle sets never shuffle
    beyond their block."""
    docs = _uniform_corpus(spark, n_docs, words_per_doc).persist()
    total = docs.count()
    t0 = time.perf_counter()
    out = get_operator("dedup.ngram_jaccard")(
        spark, [docs],
        {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
         "return_pairs": True},
        {},
    )
    pairs = out["pairs"].count()
    survivors = out["out"].count()
    dt = time.perf_counter() - t0
    print(f"PROBE ngram: n={total} {dt:.1f}s pairs={pairs} "
          f"survivors={survivors} planted={n_docs // 100} "
          f"({total/dt:,.0f} docs/s)")
    docs.unpersist()


def probe_ngram_auto(spark, n_adv=1_000_000, n_uni=200_000):
    """Round-5 check for prefix_order='auto' (the new default): on the
    1M-doc Zipf+boilerplate corpus AUTO must pick 'df' and land within
    ~1.1x of explicit 'df'; on the 200k uniform corpus AUTO must pick
    'hash' with no regression vs explicit 'hash' (the probe job itself
    is the only extra cost)."""
    def run_order(docs, total, order, tag):
        ctx = {}
        cfg = {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
               "return_pairs": True}
        if order is not None:
            cfg["prefix_order"] = order
        t0 = time.perf_counter()
        out = get_operator("dedup.ngram_jaccard")(spark, [docs], cfg, ctx)
        pairs = out["pairs"].count()
        dt = time.perf_counter() - t0
        chosen = ctx.get("_ngram_prefix_order", order)
        print(
            f"PROBE ngram_auto[{tag}]: n={total} {dt:.1f}s "
            f"({total/dt:,.0f} docs/s) pairs={pairs} chosen={chosen}"
        )
        # release only the operator's own pairs cache — clearCache()
        # would also drop the SHARED corpus persist and skew the A/B
        out["pairs"].unpersist()
        return dt

    # adversarial corpus (THE probe_adversarial rig, shared builder)
    docs = _adv_corpus(spark, n_adv).persist()
    total = docs.count()
    t_auto = run_order(docs, total, None, "adv-auto")
    t_df = run_order(docs, total, "df", "adv-df")
    print(f"PROBE ngram_auto: adversarial auto/df ratio = {t_auto/t_df:.2f}")
    docs.unpersist()

    # uniform corpus (THE probe_ngram rig, shared builder)
    udocs = _uniform_corpus(spark, n_uni).persist()
    utotal = udocs.count()
    ut_auto = run_order(udocs, utotal, None, "uni-auto")
    ut_hash = run_order(udocs, utotal, "hash", "uni-hash")
    print(f"PROBE ngram_auto: uniform auto/hash ratio = {ut_auto/ut_hash:.2f}")
    udocs.unpersist()


def probe_ivf(spark, n_vec=500_000, dim=64, n_q=100, k=10, n_cent=64):
    """IVF top-k at 500k vectors: the numpy assignment path (one matmul
    per Arrow batch against the centroid matrix) + nprobe-list scan.
    The scale metrics: corpus-assignment throughput (vectors/s) and the
    candidate fraction actually scored (nprobe/centroids of the corpus)."""
    def vec(seed_col):
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.xxhash64(seed_col, i), 2000) - 1000).cast("float")
            / 1000.0,
        )

    corpus = (
        spark.range(n_vec)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), vec(F.col("id")).alias("embedding"))
        .persist()
    )
    corpus.count()
    queries = corpus.filter(F.col("vec_id") < n_q)
    cfg = {"id_col": "vec_id", "vec_col": "embedding",
           "query_id_col": "vec_id", "query_vec_col": "embedding",
           "k": k, "centroids": n_cent, "nprobe": 8, "quantize": 10000}
    for label, extra in (
        ("hash_centroids", {}),
        ("kmeans", {"kmeans": True, "kmeans_sample": 20_000}),
    ):
        t0 = time.perf_counter()
        n = get_operator("similarity.topk_ivf")(
            spark, [corpus, queries], {**cfg, **extra}, {}
        ).count()
        dt = time.perf_counter() - t0
        print(f"PROBE ivf {label}: corpus={n_vec} cent={n_cent} nprobe=8 "
              f"q={n_q} {dt:.1f}s rows={n} ({n_vec/dt:,.0f} vec/s assign+scan)")
    corpus.unpersist()


def probe_repetition(spark, n_docs=2_000_000, words_per_doc=80):
    """text.repetition at 2M docs: line stats are shuffle-free array
    expressions; the n-gram stats shuffle (id, n, gram-hash) tuples once.
    Throughput is the number that matters — the op is a per-doc scan."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc // 8)),
                    lambda ln: F.concat_ws(
                        " ",
                        F.transform(
                            F.sequence(F.lit(1), F.lit(8)),
                            lambda i: F.element_at(
                                vocab,
                                (F.pmod(F.xxhash64(F.col("id"), ln, i), 500) + 1
                                 ).cast("int"),
                            ),
                        ),
                    ),
                ),
            ).alias("text"),
        )
        .persist()
    )
    total = docs.count()
    t0 = time.perf_counter()
    out = get_operator("text.repetition")(
        spark, [docs],
        {"id_col": "doc_id", "text_col": "text",
         "top_ns": [2], "dup_ns": [5]}, {},
    )
    n = out.filter(F.col("dup_5gram_char_frac") > 0.2).count()
    dt = time.perf_counter() - t0
    print(f"PROBE repetition: n={total} {dt:.1f}s flagged={n} "
          f"({total/dt:,.0f} docs/s)")
    docs.unpersist()



def probe_spans(spark, n_docs=2_000_000, words_per_doc=80, span_len=20):
    """dedup.spans (ExactSubstr) at 100-1000x: plant a shared
    span_len-token boilerplate snippet in every 50th doc — every 8-gram
    inside the snippet repeats corpus-wide, boundary grams don't, so the
    expected result is exactly one merged span of span_len covered
    tokens per planted doc (chance 8-gram repeats from a 500-word vocab:
    ~(n*73)^2 / 2*500^8 ≈ 3e-6 — negligible)."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    bp = " ".join(f"bp{i}" for i in range(span_len))
    half = (words_per_doc - span_len) // 2

    def rand(cnt, off):
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1 + off), F.lit(cnt + off)),
                lambda i: F.element_at(
                    vocab,
                    (F.pmod(F.xxhash64(F.col("id"), i), 500) + 1).cast("int"),
                ),
            ),
        )

    text = F.when(
        F.pmod(F.col("id"), 50) == 0,
        F.concat_ws(" ", rand(half, 0), F.lit(bp), rand(half, half)),
    ).otherwise(rand(words_per_doc, 0))
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
        .persist()
    )
    total = docs.count()

    t0 = time.perf_counter()
    out = get_operator("dedup.spans")(
        spark, [docs], {"id_col": "doc_id", "text_col": "text", "n": 8}, {}
    )
    r = out.filter("n_dup_spans > 0").agg(
        F.count(F.lit(1)), F.sum("n_dup_spans"), F.sum("dup_tokens")
    ).collect()[0]
    dt = time.perf_counter() - t0
    exp = n_docs // 50
    print(
        f"PROBE spans: n={total} span_dedup={dt:.1f}s flagged={r[0]} "
        f"(expect {exp}) spans={r[1]} dup_tokens={r[2]} "
        f"(expect {exp * span_len}) ({total/dt:,.0f} docs/s)"
    )
    docs.unpersist()



def probe_incremental(spark, n_hist=1_000_000, n_batch=50_000,
                      words_per_doc=80):
    """dedup.minhash_incremental: the daily-ingest shape. The history
    bootstrap (band build + self-dedup, amortized once) is timed apart;
    the per-batch step then runs against the precomputed band store. Plant 2% of the batch as near-dups of
    history docs and 1% as internal batch near-dups; expected drops =
    both planted sets. Compare wall-clock vs re-running full-corpus
    dedup over history+batch."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])

    def mk(ids, salt):
        return ids.select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc)),
                    lambda i: F.element_at(
                        vocab,
                        (F.pmod(F.xxhash64(F.col("seed"), i, F.lit(salt)),
                                500) + 1).cast("int"),
                    ),
                ),
            ).alias("text"),
        )

    hist = mk(
        spark.range(n_hist).repartition(64).withColumn("seed", F.col("id")),
        0,
    ).persist()
    # batch ids live above history; 2% near-dup a history doc (same seed
    # + appended token), 1% near-dup an EARLIER batch doc, rest fresh
    bids = spark.range(n_batch).repartition(32).select(
        (F.col("id") + n_hist).alias("id"), F.col("id").alias("k"))
    fresh = mk(
        bids.filter("k % 100 >= 3").withColumn("seed", F.col("id")), 1)
    dup_h = mk(
        bids.filter("k % 100 = 0").withColumn(
            "seed", F.pmod(F.col("k") * 37, F.lit(n_hist))), 0
    ).select("doc_id", F.concat(F.col("text"), F.lit(" extradup")).alias("text"))
    base_b = mk(bids.filter("k % 100 = 1").withColumn("seed", F.col("id")), 1)
    dup_b = mk(
        bids.filter("k % 100 = 2").withColumn("seed", F.col("id") - 1), 1
    ).select("doc_id", F.concat(F.col("text"), F.lit(" dupb")).alias("text"))
    batch = fresh.unionByName(dup_h).unionByName(base_b).unionByName(dup_b).persist()
    nb = batch.count()
    hist.count()

    cfg = {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
           "num_hashes": 128, "bands": 16}
    t0 = time.perf_counter()
    hb = get_operator("dedup.minhash_incremental")(
        spark, [hist, hist.limit(0)],
        {**cfg, "return_bands": True, "broadcast_batch": False}, {}
    )["bands"]
    hb.count()
    t_bands = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = get_operator("dedup.minhash_incremental")(
        spark, [batch, hist, hb], cfg, {}
    )
    surv = out.count()
    t_inc = time.perf_counter() - t0

    t0 = time.perf_counter()
    full = get_operator("dedup.minhash")(
        spark, [hist.unionByName(batch)], cfg, {}
    )
    fsurv = full.where(f"doc_id >= {n_hist}").count()
    t_full = time.perf_counter() - t0

    exp_drop = (n_batch // 100) * 2  # the %100==0 and %100==2 sets
    print(
        f"PROBE incremental: hist={n_hist} batch={nb} "
        f"hist_bootstrap_once={t_bands:.1f}s batch_step={t_inc:.1f}s "
        f"(={nb/t_inc:,.0f} docs/s) full_rededup={t_full:.1f}s "
        f"speedup={t_full/t_inc:.1f}x survivors={surv} "
        f"(expect {nb - exp_drop}) full_restricted={fsurv}"
    )
    hist.unpersist()
    batch.unpersist()



def probe_pack(spark, n=20_000_000, cap=2048):
    """text.pack at 20M rows: the RangePartitioner-sampling regime the
    two-phase prefix sum must survive. Correctness check is complete
    without a driver-side O(n) pass: if ANY offset were wrong, some
    chunk's fill would break — assert every chunk except the last sums
    to exactly `cap` and the chunk count equals ceil(total/cap)."""
    df = (
        spark.range(n)
        .repartition(64)
        .select(
            F.col("id"),
            (F.pmod(F.xxhash64(F.col("id")), 100) + 1).cast("int").alias("cnt"),
        )
        .persist()
    )
    total = df.agg(F.sum("cnt")).collect()[0][0]
    t0 = time.perf_counter()
    ch = get_operator("text.pack")(
        spark, [df],
        {"id_col": "id", "count_col": "cnt", "capacity": cap,
         "emit": "chunks"}, {},
    )
    fills = ch.groupBy("chunk_id").agg(
        F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("fill")
    ).persist()
    n_chunks = fills.count()
    bad = fills.filter(
        (F.col("fill") != cap)
        & (F.col("chunk_id") != (total - 1) // cap)
    ).count()
    dt = time.perf_counter() - t0
    exp_chunks = (total + cap - 1) // cap
    print(
        f"PROBE pack: n={n} total_tokens={total} pack+verify={dt:.1f}s "
        f"({n/dt:,.0f} docs/s) chunks={n_chunks} (expect {exp_chunks}) "
        f"underfilled_nonfinal={bad} (expect 0)"
    )
    fills.unpersist()
    df.unpersist()


def probe_pack_skew(spark, n=20_000_000, cap=2048):
    """text.pack on snowflake-style sparse ids at 20M rows: 99.9% of the
    rows sit in a dense id cluster occupying ~2e-9 of the id span (the
    rest are scattered stragglers), so equal-width bucketing collapses
    into one bucket and the quantile rebalance's recursive histogram
    zoom must engage. Same complete fill-exactness check as probe_pack,
    plus the planner's own bucket histogram is asserted balanced."""
    base = 1_700_000_000_000_000
    sparse = F.when(
        F.pmod(F.col("id"), 1000) == 0,
        F.col("id") * F.lit(77_000_003),  # stragglers over the full span
    ).otherwise(base + F.col("id"))
    df = (
        spark.range(n)
        .repartition(64)
        .select(
            sparse.alias("id"),
            (F.pmod(F.xxhash64(F.col("id")), 100) + 1).cast("int").alias("cnt"),
        )
        .persist()
    )
    total = df.agg(F.sum("cnt")).collect()[0][0]
    ctx = {}
    t0 = time.perf_counter()
    ch = get_operator("text.pack")(
        spark, [df],
        {"id_col": "id", "count_col": "cnt", "capacity": cap,
         "emit": "chunks"}, ctx,
    )
    fills = ch.groupBy("chunk_id").agg(
        F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("fill")
    ).persist()
    n_chunks = fills.count()
    bad = fills.filter(
        (F.col("fill") != cap)
        & (F.col("chunk_id") != (total - 1) // cap)
    ).count()
    dt = time.perf_counter() - t0
    buckets = ctx.get("_pack_bucket_rows", {})
    maxshare = (
        max(buckets.values()) / n if buckets else float("nan")
    )
    exp_chunks = (total + cap - 1) // cap
    print(
        f"PROBE pack_skew: n={n} pack+verify={dt:.1f}s ({n/dt:,.0f} docs/s) "
        f"chunks={n_chunks} (expect {exp_chunks}) underfilled_nonfinal={bad} "
        f"(expect 0) buckets={len(buckets)} max_bucket_share={maxshare:.3f}"
    )
    fills.unpersist()
    df.unpersist()


def probe_balanced(spark, n=20_000_000, quota=100_000):
    """sample.balanced at 20M rows with a 90%-hot group (the exact shape
    invariant 17 warns about): the Chernoff-prefiltered ranking window
    must beat the naive full-group window, and the output must equal it
    exactly (same deterministic hash order)."""
    from pyspark.sql import Window

    from ssis_to_pyspark_agent_spark.operators.dedup import _md5_60bit

    df = (
        spark.range(n)
        .repartition(64)
        .select(
            F.col("id"),
            F.when(F.pmod("id", 10) < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("g"), F.pmod("id", 7)))
            .alias("g"),
        )
        .persist()
    )
    df.count()

    t0 = time.perf_counter()
    out = get_operator("sample.balanced")(
        spark, [df], {"id_col": "id", "group_col": "g", "quota": quota}, {}
    )
    agg = out.groupBy("g").count().collect()
    dt = time.perf_counter() - t0
    sizes = {r["g"]: r["count"] for r in agg}

    t1 = time.perf_counter()
    w = Window.partitionBy("g").orderBy("_h", "id")
    naive = (
        df.withColumn("_h", _md5_60bit(F.col("id").cast("string")))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
    )
    n_naive = naive.count()
    dt_naive = time.perf_counter() - t1
    # exact-equality audit on the hot group's kept id set
    ours = out.filter("g = 'hot'").select("id")
    theirs = naive.filter("g = 'hot'").select("id")
    diff = ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count()
    print(
        f"PROBE balanced: n={n} quota={quota} prefiltered={dt:.1f}s "
        f"naive_window={dt_naive:.1f}s kept={sum(sizes.values())} "
        f"(naive {n_naive}) hot_kept={sizes.get('hot')} "
        f"hot_set_diff={diff} (expect 0)"
    )
    df.unpersist()


def probe_mixture(spark, n=20_000_000):
    """sample.mixture at 20M rows — zero-shuffle by design; exact
    multiplicities for integer weights, binomial for fractional."""
    df = (
        spark.range(n)
        .repartition(64)
        .select(F.col("id"), F.concat(F.lit("g"), F.pmod(F.col("id"), 4)).alias("grp"))
        .persist()
    )
    df.count()
    t0 = time.perf_counter()
    out = get_operator("sample.mixture")(
        spark, [df],
        {"id_col": "id", "group_col": "grp",
         "weights": {"g0": 2.0, "g1": 1.5, "g2": 0.25, "g3": 0.0}}, {},
    )
    got = {r["grp"]: r["c"] for r in
           out.groupBy("grp").agg(F.count(F.lit(1)).alias("c")).collect()}
    dt = time.perf_counter() - t0
    q = n // 4
    print(
        f"PROBE mixture: n={n} pass={dt:.1f}s ({n/dt:,.0f} rows/s) "
        f"g0={got.get('g0')} (expect {2*q}) g1={got.get('g1')} "
        f"(~{int(1.5*q)}) g2={got.get('g2')} (~{q//4}) g3={got.get('g3')}"
    )
    df.unpersist()



def probe_importance(spark, n_docs=2_000_000, n_target=100_000,
                     k=20_000):
    """sample.importance (DSIR) at 2M Zipf docs: 1% of raw docs carry
    the target's distinctive token block — with the target
    distribution dominated by those tokens, the planted docs must fill
    the top-k. Scale shape under test: two B-bounded count shuffles +
    broadcast lambda join + TakeOrdered — no global sort, no
    corpus-sized persist."""
    marker = " ".join(f"tgtword{i}" for i in range(8))
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            _zipf_lines_expr(10, 8, vocab=50_000, salt=5).alias("text"),
        )
    )
    raw = base.select(
        "doc_id",
        F.when(F.pmod("doc_id", 100) == 0,
               F.concat_ws(" ", "text", F.lit(marker)))
        .otherwise(F.col("text"))
        .alias("text"),
    ).persist()
    target = (
        spark.range(n_target)
        .repartition(16)
        .select(
            (F.col("id") + n_docs).alias("doc_id"),
            F.concat_ws(
                " ",
                _zipf_lines_expr(2, 8, vocab=50_000, salt=7),
                F.lit(marker), F.lit(marker),
            ).alias("text"),
        )
    )
    raw.count()
    t0 = time.perf_counter()
    res = get_operator("sample.importance")(
        spark, [raw, target],
        {"id_col": "doc_id", "text_col": "text", "k": k}, {},
    )
    kept = res["out"].select("doc_id").collect()
    dt = time.perf_counter() - t0
    planted = sum(1 for r in kept if r.doc_id % 100 == 0)
    print(
        f"PROBE importance: n={n_docs} target={n_target} k={k} "
        f"pass={dt:.1f}s ({n_docs/dt:,.0f} docs/s) "
        f"planted_in_topk={planted}/{k} (expect {n_docs//100} planted)"
    )
    raw.unpersist()


def probe_temperature(spark, n=20_000_000):
    """sample.temperature at 20M rows with a heavily skewed domain mix
    (one domain holds 85%): the operator is one tiny count shuffle + a
    broadcast rate join + a filter, so the pass should run at
    scan-bound rows/s regardless of skew (no hot-key window anywhere —
    invariant 17 by construction). Verifies the small domains are kept
    at full rate while the giant is downsampled toward the n^0.5 share."""
    grp = (
        F.when(F.pmod("id", 100) < 85, F.lit("giant"))
        .when(F.pmod("id", 100) < 95, F.lit("mid"))
        .otherwise(F.concat(F.lit("s"), F.pmod("id", 5)))
    )
    df = spark.range(n).repartition(64).select("id", grp.alias("grp")).persist()
    df.count()
    t0 = time.perf_counter()
    out = get_operator("sample.temperature")(
        spark, [df],
        {"id_col": "id", "group_col": "grp", "alpha": 0.5,
         "budget_frac": 0.3}, {},
    )
    got = {r["grp"]: r["c"] for r in
           out.groupBy("grp").agg(F.count(F.lit(1)).alias("c")).collect()}
    dt = time.perf_counter() - t0
    kept = sum(got.values())
    print(
        f"PROBE temperature: n={n} pass={dt:.1f}s ({n/dt:,.0f} rows/s) "
        f"kept={kept} ({kept/n:.3f} of corpus vs budget 0.3) "
        f"giant={got.get('giant')}/{int(n*0.85)} mid={got.get('mid')} "
        f"small_each~{got.get('s0')}"
    )
    df.unpersist()


def probe_funnel(spark, n_docs=2_000_000, words_per_doc=80):
    """The q81 curation cascade (url-dedup -> lang gate -> quality gate
    -> exact-text dedup -> temperature resample) end-to-end at 2M raw
    docs. Every stage is shuffle-light by design (url/exact dedup
    shuffle 16-byte digests; lang/quality are narrow; temperature is a
    broadcast-rate filter), so the funnel should run at corpus-scan
    throughput. Corpus: 10% of docs carry no stopwords (the lang gate
    cuts them), urls collide 4:1 (the url stage cuts 75%), ~1% exact
    clones survive to the exact stage."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    word = lambda i: F.element_at(
        vocab, (F.pmod(F.xxhash64(F.col("doc_id"), i), 500) + 1).cast("int")
    )
    # every 7th word is 'the' unless doc_id % 10 == 0 (those docs stay
    # stopword-free and must die at the lang gate)
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(words_per_doc)),
            lambda i: F.when(
                (i % 7 == 0) & (F.pmod(F.col("doc_id"), 10) != 0),
                F.lit("the"),
            ).otherwise(word(i)),
        ),
    )
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), F.pmod(F.col("id"), 4)).alias("source"),
            F.concat(
                F.lit("https://Example.COM/p"),
                F.pmod(F.col("id"), n_docs // 4).cast("string"),
                F.lit("?utm_source=x"),
            ).alias("url"),
        )
        .withColumn("text", text)
    )
    clones = base.filter(F.pmod("doc_id", 100) == 1).select(
        (F.col("doc_id") + n_docs).alias("doc_id"), "source",
        F.concat(F.lit("https://other.net/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    docs = base.unionByName(clones).persist()
    total = docs.count()
    t0 = time.perf_counter()
    s1 = get_operator("dedup.url")(
        spark, [docs], {"url_col": "url", "id_col": "doc_id",
                        "emit": "flag"}, {},
    ).filter("url_keep")
    s2 = get_operator("text.lang_id")(
        spark, [s1], {"text_col": "text"}, {},
    ).filter("lang_pred = 'en'")
    s3 = get_operator("text.quality")(
        spark, [s2], {"text_col": "text"}, {},
    ).filter("stopword_ratio > 0.04 and n_words >= 25")
    s4 = get_operator("dedup.exact")(
        spark, [s3], {"columns": ["text"], "keep_by": ["doc_id"]}, {},
    )
    s5 = get_operator("sample.temperature")(
        spark, [s4], {"id_col": "doc_id", "group_col": "source",
                      "alpha": 0.5, "budget_frac": 0.5}, {},
    )
    kept = s5.count()
    dt = time.perf_counter() - t0
    print(
        f"PROBE funnel: n={total} end-to-end={dt:.1f}s "
        f"({total/dt:,.0f} docs/s) kept={kept}"
    )
    docs.unpersist()


def probe_funnel_report(spark, n_docs=2_000_000, words_per_doc=80):
    """The q44 REPORT funnel (_q44_funnel: per-stage persists, per-stage
    count/token aggregates + by-source split) at 2M docs, A/B'd against
    the pre-round-6 shape (no persists — every report leg re-derives its
    stage's full prefix, the former q81's ~6-corpus-pass behavior). Same
    corpus as probe_funnel. Verdict r6 item 2: turn 'one pass per stage'
    into a measured speedup at the scale a 100 TB curation run has."""
    from ssis_to_pyspark_agent_spark.queries import _q44_funnel

    vocab = F.array(*[F.lit(w) for w in VOCAB])
    word = lambda i: F.element_at(  # noqa: E731
        vocab, (F.pmod(F.xxhash64(F.col("doc_id"), i), 500) + 1).cast("int")
    )
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(words_per_doc)),
            lambda i: F.when(
                (i % 7 == 0) & (F.pmod(F.col("doc_id"), 10) != 0),
                F.lit("the"),
            ).otherwise(word(i)),
        ),
    )
    base = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), F.pmod(F.col("id"), 4)).alias("source"),
        )
        .withColumn("text", text)
    )
    clones = base.filter(F.pmod("doc_id", 100) == 1).select(
        (F.col("doc_id") + n_docs).alias("doc_id"), "source", "text"
    )
    d0 = (
        base.unionByName(clones)
        .withColumn(
            "ws_tokens",
            F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                            lambda x: x != "")).cast("bigint"),
        )
        .persist()
    )
    total = d0.count()

    url_mod = n_docs // 4  # 4:1 url collisions — probe_funnel's shape
    t0 = time.perf_counter()
    rows = _q44_funnel(spark, d0, url_mod=url_mod)
    dt_new = time.perf_counter() - t0
    stage = {k: n for kind, k, n, _ in rows if kind == "stage"}

    # materialize='checkpoint' (round-7 verdict item 3): stage parquet
    # write+read instead of executor-storage persists — the eviction-
    # proof shape a real 100 TB run uses; price the delta
    t0 = time.perf_counter()
    rows_ck = _q44_funnel(spark, d0, url_mod=url_mod,
                          materialize="checkpoint")
    dt_ck = time.perf_counter() - t0
    assert {k: n for kind, k, n, _ in rows_ck if kind == "stage"} == stage

    # pre-round-6 shape: identical stages, NO persists — each report
    # aggregate re-derives its stage's full prefix from the raw corpus
    from ssis_to_pyspark_agent_spark.plans import Pipeline, run_pipeline
    from ssis_to_pyspark_agent_spark.queries import _q44_url

    p = (
        Pipeline("funnel_report_before")
        .step("d0", "source.dataframe", df=d0)
        .step("uw", "derived_column", "d0",
              columns={"url": _q44_url(url_mod)})
        .step("ud", "dedup.url", "uw", url_col="url", id_col="doc_id",
              emit="flag")
        .step("s1", "filter", "ud", predicate="[url_keep]")
        .step("lid", "text.lang_id", "s1", text_col="text")
        .step("s2", "filter", "lid", predicate='[lang_pred] == "en"')
        .step("ql", "text.quality", "s2", text_col="text")
        .step("s3", "filter", "ql",
              predicate="[stopword_ratio] > 0.04 && [n_words] >= 25")
        .step("s4", "dedup.exact", "s3", columns=["text"],
              keep_by=["doc_id"])
        .step("s5", "sample.temperature", "s4", id_col="doc_id",
              group_col="source", alpha=0.5, budget_frac=0.6)
    )
    r = run_pipeline(spark, p)
    t0 = time.perf_counter()
    before_stage = {}
    for s, key in (("d0", "s0_raw"), ("s1", "s1_url"), ("s2", "s2_lang"),
                   ("s3", "s3_quality"), ("s4", "s4_exact"),
                   ("s5", "s5_temperature")):
        agg = r.df(s).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("ws_tokens"), F.lit(0)).cast("long"),
        ).collect()[0]
        before_stage[key] = agg["n"]
    r.df("s5").groupBy("source").agg(
        F.count(F.lit(1)), F.coalesce(F.sum("ws_tokens"), F.lit(0))
    ).collect()
    dt_old = time.perf_counter() - t0

    assert before_stage == stage, (before_stage, stage)
    print(
        f"PROBE funnel_report: n={total} single-pass={dt_new:.1f}s "
        f"({total/dt_new:,.0f} docs/s) checkpoint={dt_ck:.1f}s "
        f"({dt_ck/dt_new:.2f}x persist) re-derive={dt_old:.1f}s "
        f"speedup={dt_old/dt_new:.2f}x stages={stage}"
    )
    d0.unpersist()


def probe_novelty(spark, n_docs=2_000_000, words_per_doc=80):
    """text.ngram_novelty at 2M docs: corpus-global bigram table
    (groupBy) + hash-keyed join-back — the same shuffle class as
    line_dedup. Sanity: sum(n_ngrams) == docs * (words-1); with a
    500-word vocab the bigram space (~250k) is saturated, so rare
    grams (count < 2) should be ~0."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(words_per_doc)),
                    lambda i: F.element_at(
                        vocab,
                        (F.pmod(F.xxhash64(F.col("id"), i), 500) + 1).cast("int"),
                    ),
                ),
            ).alias("text"),
        )
        .persist()
    )
    docs.count()
    t0 = time.perf_counter()
    out = get_operator("text.ngram_novelty")(
        spark, [docs], {"id_col": "doc_id", "text_col": "text", "n": 2}, {}
    )
    r = out.agg(
        F.sum("n_ngrams"), F.sum("rare_ngrams"), F.avg("mean_ngram_freq")
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(
        f"PROBE novelty: n={n_docs} pass={dt:.1f}s ({n_docs/dt:,.0f} docs/s) "
        f"total_grams={r[0]} (expect {n_docs*(words_per_doc-1)}) "
        f"rare={r[1]} mean_freq={r[2]:,.0f}"
    )
    docs.unpersist()


def probe_lm(spark, n_docs=2_000_000, words_per_doc=80):
    """text.lm_score (fixed-point bigram-LM cross-entropy) at 2M docs on
    the ADVERSARIAL Zipf(s=1)+boilerplate corpus — the same class of
    corpus-global-statistic shuffle as ngram_novelty, plus the per-gram
    element_at log lookup and the ctx/vocab join-backs. Sanity:
    sum(lm_ngrams) == docs * (tokens-1) with the boilerplate lines in
    place (all docs same token count), oov == 0 (self-trained), and the
    boilerplate-heavy docs must score LOWER bits-per-token than pure
    Zipf docs (the LM assigns hot grams high probability — exactly how
    a CCNet filter separates boilerplate from content)."""
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.regexp_replace(
                _zipf_lines_expr(10, 8, vocab=50_000, salt=21, boiler=BOILER),
                "\n", " ",
            ).alias("text"),
        )
        .persist()
    )
    docs.count()
    t0 = time.perf_counter()
    out = get_operator("text.lm_score")(
        spark, [docs], {"id_col": "doc_id", "text_col": "text", "n": 2}, {}
    )
    r = out.agg(
        F.sum("lm_ngrams"), F.sum("lm_oov"), F.avg("lm_bpt")
    ).collect()[0]
    dt = time.perf_counter() - t0
    n_tok = 10 * 8
    print(
        f"PROBE lm: n={n_docs} pass={dt:.1f}s ({n_docs/dt:,.0f} docs/s) "
        f"total_grams={r[0]} (expect {n_docs*(n_tok-1)}) oov={r[1]} "
        f"mean_bpt={r[2]:.3f}"
    )
    # boilerplate-free variant must score HIGHER bpt (no hot grams)
    docs2 = (
        spark.range(200_000)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.regexp_replace(
                _zipf_lines_expr(10, 8, vocab=50_000, salt=21),
                "\n", " ",
            ).alias("text"),
        )
    )
    out2 = get_operator("text.lm_score")(
        spark, [docs2], {"id_col": "doc_id", "text_col": "text", "n": 2}, {}
    )
    bpt2 = out2.agg(F.avg("lm_bpt")).collect()[0][0]
    print(
        f"PROBE lm: pure-zipf 200k mean_bpt={bpt2:.3f} "
        f"(boilerplate corpus must be lower: {r[2]:.3f})"
    )
    docs.unpersist()

    # stats-broadcast A/B on a WEB-SHAPED vocab (2k words: the merged
    # table fits the 8M-row broadcast bound, as a hapax-pruned web
    # corpus's does; the 50k-vocab corpus above saturates every context
    # and correctly stays on the SMJ path). Same values both plans.
    docs3 = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.regexp_replace(
                _zipf_lines_expr(10, 8, vocab=2_000, salt=23, boiler=BOILER),
                "\n", " ",
            ).alias("text"),
        )
        .persist()
    )
    docs3.count()
    res = {}
    for mode in ("off", "auto"):
        t0 = time.perf_counter()
        o = get_operator("text.lm_score")(
            spark, [docs3],
            {"id_col": "doc_id", "text_col": "text", "n": 2,
             "stats_broadcast": mode},
            {},
        )
        agg = o.agg(F.sum("lm_ngrams"), F.sum("lm_bits_fp")).collect()[0]
        res[mode] = (time.perf_counter() - t0, agg[0], agg[1])
    assert res["off"][1:] == res["auto"][1:], res
    print(
        f"PROBE lm_bcast: n={n_docs} vocab=2k smj={res['off'][0]:.1f}s "
        f"broadcast={res['auto'][0]:.1f}s "
        f"speedup={res['off'][0]/res['auto'][0]:.2f}x values_equal=True"
    )
    docs3.unpersist()


def _zipf_lines_expr(n_lines, words_per_line, vocab=50_000, salt=0,
                     boiler=None, zipf=True):
    """Text expr over F.col('id'): `n_lines` lines of `words_per_line`
    Zipf(s=1)-distributed words 'w<rank>' (inverse-CDF: rank =
    floor(V^u) gives P(r) ~ ln((r+1)/r) ~ 1/r; `zipf=False` draws
    ranks uniformly instead). `boiler` = list of fixed boilerplate
    line strings that REPLACE the first len(boiler) lines of every doc
    — the planted hot-key corpus the uniform probes can't produce.
    Newline-separated (line_dedup-ready); spans/minhash normalize
    newlines to spaces."""
    V = float(vocab)

    def line(li):
        def word(wi):
            h = F.xxhash64(F.col("id"), F.lit(salt), li, wi)
            if not zipf:
                rank = F.pmod(h, int(vocab)) + 1
            else:
                u = (F.pmod(h, 1_000_000) + 1) / 1_000_000.0
                rank = F.floor(F.pow(F.lit(V), u))
            return F.concat(F.lit("w"), rank.cast("string"))

        return F.concat_ws(
            " ", *[word(F.lit(w)) for w in range(words_per_line)]
        )

    lines = []
    for i in range(n_lines):
        if boiler and i < len(boiler):
            lines.append(F.lit(boiler[i]))
        else:
            lines.append(line(F.lit(i)))
    return F.concat_ws("\n", *lines)


BOILER = [
    " ".join(f"nav{i}" for i in range(8)),
    " ".join(f"foot{i}" for i in range(8)),
]


def probe_spans_skew(spark, n_docs=2_000_000, words_per_doc=80):
    """The round-3 verdict's flagged risk, A/B form: dedup.spans on a
    uniform-random corpus vs one where a fixed 16-token boilerplate
    block sits in EVERY doc — 20% of all corpus positions carry the
    same 9 hot 8-grams (>= 2M occurrences each). The old
    count-over-window design serialized every occurrence of a hot gram
    into one task; the partial-aggregated groupBy + semi-join-back
    must keep the hot corpus within small-constant wall time of the
    uniform one (it does MORE real work: 20% of positions are genuinely
    flagged and span-merged)."""
    wpl, n_lines = 8, words_per_doc // 8

    def corpus(boiler):
        return (
            spark.range(n_docs)
            .repartition(64)
            .select(
                F.col("id").alias("doc_id"),
                _zipf_lines_expr(
                    n_lines, wpl, vocab=500_000, salt=7, boiler=boiler,
                    zipf=False,
                ).alias("text"),
            )
        )

    results = {}
    for tag, boiler in (("uniformish", None), ("hot20pct", BOILER)):
        docs = corpus(boiler).persist()
        docs.count()
        t0 = time.perf_counter()
        out = get_operator("dedup.spans")(
            spark, [docs],
            {"id_col": "doc_id", "text_col": "text", "n": 8}, {},
        )
        r = out.agg(
            F.sum(F.when(F.col("n_dup_spans") > 0, 1).otherwise(0)),
            F.sum("dup_tokens"),
        ).collect()[0]
        dt = time.perf_counter() - t0
        results[tag] = dt
        print(
            f"PROBE spans_skew[{tag}]: n={n_docs} {dt:.1f}s "
            f"({n_docs/dt:,.0f} docs/s) flagged={r[0]} dup_tokens={r[1]}"
        )
        docs.unpersist()
    print(
        "PROBE spans_skew ratio hot/uniform: "
        f"{results['hot20pct'] / results['uniformish']:.2f}x"
    )


def probe_cc(spark, n_clique=2_000_000, n_chain=200_000):
    """dedup.cluster's cc_impl paths at dup-graph scale.

    (a) realistic graph: n_clique nodes in all-pairs cliques of 4 — the
    shape real near-dup pair lists take (6 edges per clique, 3M edges
    at 2M nodes). lp vs star wall time; 'auto' must ride the lp path
    (converges in ~3 rounds, never reroutes).
    (b) adversarial graph: one n_chain-node path — diameter n_chain-1.
    lp is infeasible by construction (rounds ~ diameter); 'auto'
    reroutes to star contraction, which needs ~log2(n_chain) rounds.
    Exactness: every clique labels to its minimum (aggregate check, no
    collect), the chain labels entirely to node 0.
    """
    from ssis_to_pyspark_agent_spark.operators import get_operator

    op = get_operator("dedup.cluster")

    # (a) clique graph
    offs = [(i, j) for i in range(4) for j in range(4) if i < j]
    cliq = spark.range(n_clique // 4).repartition(32)
    pairs = cliq.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("id") * 4 + i).alias("a"),
                        (F.col("id") * 4 + j).alias("b"),
                    )
                    for i, j in offs
                ]
            )
        ).alias("p")
    ).select("p.a", "p.b").persist()
    pairs.count()
    ids = spark.range(n_clique).select(F.col("id").alias("doc_id"))

    def run_impl(tag, impl, p, idf, n_ok, comp_expr, max_rounds=20):
        t0 = time.perf_counter()
        out = op(
            spark, [idf, p],
            {"id_col": "doc_id", "cc_impl": impl, "max_rounds": max_rounds,
             "broadcast_components": False},
            {},
        )
        bad = out["components"].filter(
            F.col("comp") != comp_expr
        ).count()
        dt = time.perf_counter() - t0
        print(
            f"PROBE cc {tag}: {dt:.1f}s  mislabeled={bad} "
            f"(expect 0), nodes={n_ok}"
        )
        return dt

    comp_cliq = (F.col("doc_id") - F.pmod("doc_id", 4)).cast("long")
    t_lp = run_impl("clique-lp", "lp", pairs, ids, n_clique, comp_cliq)
    t_star = run_impl("clique-star", "star", pairs, ids, n_clique, comp_cliq)
    t_auto = run_impl("clique-auto", "auto", pairs, ids, n_clique, comp_cliq)
    print(
        f"PROBE cc clique ratios: star/lp={t_star/t_lp:.2f} "
        f"auto/lp={t_auto/t_lp:.2f}"
    )
    pairs.unpersist()

    # (b) chain graph — lp would need n_chain rounds, not attempted
    chain = (
        spark.range(n_chain - 1)
        .repartition(32)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        .persist()
    )
    chain.count()
    cids = spark.range(n_chain).select(F.col("id").alias("doc_id"))
    zero = F.lit(0).cast("long")
    run_impl("chain-auto(default rounds)", "auto", chain, cids, n_chain, zero)
    run_impl("chain-star", "star", chain, cids, n_chain, zero)
    chain.unpersist()


def probe_adversarial(spark, n_docs=1_000_000, only=None):
    """Zipfian + planted-boilerplate corpus (the verdict's point: the
    uniform-random probes are the BEST case for every gram/band/bucket
    distribution — real CommonCrawl is Zipfian with hot boilerplate).
    50k-word Zipf(s=1) vocabulary (top word ~8.7% of tokens), 10 lines
    x 8 words, 2 boilerplate lines in every doc, plus 1% planted
    near-dups (one appended token, J ~ 0.96) so minhash/ngram RECALL
    is verified under skew, not just wall time. Runs the five
    skew-sensitive operators back to back; ``only`` restricts to a
    subset (rerunning one failed leg without repaying the others)."""
    planted = n_docs // 100
    docs = _adv_corpus(spark, n_docs).persist()
    docs.count()

    def timed(tag, fn):
        t0 = time.perf_counter()
        extra = fn()
        dt = time.perf_counter() - t0
        print(
            f"PROBE adversarial[{tag}]: n={n_docs} {dt:.1f}s "
            f"({n_docs/dt:,.0f} docs/s) {extra}"
        )

    def _spans():
        out = get_operator("dedup.spans")(
            spark, [docs], {"id_col": "doc_id", "text_col": "text", "n": 8},
            {},
        )
        r = out.agg(F.sum("dup_tokens")).collect()[0]
        return f"dup_tokens={r[0]}"

    def _minhash():
        out = get_operator("dedup.minhash")(
            spark, [docs],
            {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
             "num_hashes": 128, "bands": 16, "return_pairs": True},
            {},
        )
        return f"pairs={out['pairs'].count()} (planted {planted})"

    def _ngram():
        ctx = {}
        out = get_operator("dedup.ngram_jaccard")(
            spark, [docs],
            {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
             "return_pairs": True},
            ctx,
        )
        n_pairs = out["pairs"].count()
        out["pairs"].unpersist()
        return (f"pairs={n_pairs} (planted {planted}, "
                f"auto chose {ctx.get('_ngram_prefix_order')})")

    def _lines():
        out = get_operator("text.line_dedup")(
            spark, [docs], {"id_col": "doc_id", "text_col": "text"}, {}
        )
        r = out.agg(F.sum("n_boilerplate_lines")).collect()[0]
        # floor, not exact: Zipf random lines legitimately collide
        # across 1M docs (df>=2), adding natural boilerplate on top of
        # the planted 2/doc
        return f"boiler_lines={r[0]} (>= {2 * (n_docs + planted)})"

    def _novelty():
        out = get_operator("text.ngram_novelty")(
            spark, [docs], {"id_col": "doc_id", "text_col": "text", "n": 2},
            {},
        )
        r = out.agg(F.sum("rare_ngrams"), F.avg("mean_ngram_freq")).collect()[0]
        return f"rare={r[0]} mean_freq={r[1]:,.0f}"

    legs = {"spans": _spans, "line_dedup": _lines, "novelty": _novelty,
            "minhash": _minhash, "ngram_jaccard": _ngram}
    for tag, fn in legs.items():
        if only is None or tag in only:
            timed(tag, fn)
    docs.unpersist()


def probe_kmeans(spark, n_vec=500_000, dim=64, k=64, n_iter=3):
    """cluster.kmeans at 500k x 64-dim / k=64 / 3 Lloyd's iterations.
    Cost model per iteration: one narrow mapInPandas assignment pass
    (numpy matmul, n x k x 8B distances per batch) + one
    partial-aggregated (cluster, dim) shuffle bounded by
    k * dim * partitions rows. Per-iteration time should be FLAT (no
    state growth); also prints docs/s for the whole fit+label."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0)
        .cast("float"),
    )
    docs = spark.range(n_vec).repartition(32).select(
        F.col("id").alias("vid"), vec.alias("v")
    ).persist()
    docs.count()
    t0 = time.perf_counter()
    res = get_operator("cluster.kmeans")(
        spark, [docs],
        {"id_col": "vid", "vec_col": "v", "k": k, "n_iter": n_iter,
         "quantize": 10000},
        {},
    )
    fit = time.perf_counter() - t0
    t1 = time.perf_counter()
    sizes = res["out"].groupBy("cluster").count().collect()
    label = time.perf_counter() - t1
    occ = sorted(r["count"] for r in sizes)
    print(
        f"PROBE kmeans: n={n_vec} dim={dim} k={k} iters={n_iter} "
        f"fit={fit:.1f}s label+count={label:.1f}s "
        f"({n_vec/(fit+label):,.0f} vec/s) clusters_used={len(occ)} "
        f"occupancy min/med/max={occ[0]}/{occ[len(occ)//2]}/{occ[-1]}"
    )
    docs.unpersist()


def probe_kmeans_minibatch(spark, n_vec=2_000_000, dim=64, k=256,
                           n_iter=3):
    """Full-pass Lloyd's vs mini-batch (batch_frac=0.1, Sculley 2010)
    at 2M x 64 / k=256: fit wall-time and centroid QUALITY (mean
    squared distance of every vector to its centroid, computed via
    cluster.prune's scores port — exact integers). The round-5 verdict
    asked for this A/B to decide kmeans' iteration-scaling story."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0)
        .cast("float"),
    )
    docs = spark.range(n_vec).repartition(64).select(
        F.col("id").alias("vid"), vec.alias("v")
    ).persist()
    docs.count()

    def fit(tag, extra):
        t0 = time.perf_counter()
        res = get_operator("cluster.kmeans")(
            spark, [docs],
            {"id_col": "vid", "vec_col": "v", "k": k, "n_iter": n_iter,
             "quantize": 10000, **extra},
            {},
        )
        out = res["out"].persist()
        out.count()
        fit_t = time.perf_counter() - t0
        sc = get_operator("cluster.prune")(
            spark, [out, res["centroids"]],
            {"id_col": "vid", "vec_col": "v", "prune_frac": 0.0,
             "keep": "hard", "quantize": 10000},
            {},
        )
        inertia = sc["scores"].agg(F.avg("dist")).collect()[0][0]
        out.unpersist()
        print(
            f"PROBE kmeans_mb[{tag}]: n={n_vec} k={k} iters={n_iter} "
            f"fit={fit_t:.1f}s mean_sq_dist={inertia:,.0f}"
        )
        return fit_t, inertia

    t_full, q_full = fit("full", {})
    t_mb, q_mb = fit("mb0.1", {"batch_frac": 0.1})
    print(
        f"PROBE kmeans_mb: speedup={t_full/t_mb:.2f}x "
        f"inertia_ratio={q_mb/q_full:.4f} (1.0 = equal quality)"
    )
    docs.unpersist()


def probe_semdedup_recipe(spark, n_vec=2_000_000, dim=64, k=1024,
                          n_iter=3):
    """The COMPOSED big-corpus SemDeDup recipe (round-6 verdict item 6):
    cluster.kmeans (full-pass Lloyd's vs batch_frac=0.1 mini-batch) ->
    dedup.semantic with the centroid frame as second input, at 2M x 64
    with 1% planted near-dups (scale-perturbed copies, cosine ~1).
    Measures each leg's wall time and the pair RECALL under both
    centroid sets — mini-batch centroids are only a valid 100 TB
    recommendation if the downstream dedup still catches the planted
    pairs (a dup and its copy land in the same cluster for ANY sane
    centroid set, so recall should hold at 100%)."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0)
        .cast("float"),
    )
    base = spark.range(n_vec).repartition(64).select(
        F.col("id").alias("vid"), vec.alias("v")
    )
    dups = base.filter(F.pmod("vid", 100) == 0).select(
        (F.col("vid") + n_vec).alias("vid"),
        F.transform("v", lambda x: x * 1.0001).alias("v"),
    )
    docs = base.unionByName(dups).persist()
    total = docs.count()
    planted = n_vec // 100

    def leg(tag, extra):
        t0 = time.perf_counter()
        km = get_operator("cluster.kmeans")(
            spark, [docs],
            {"id_col": "vid", "vec_col": "v", "k": k, "n_iter": n_iter,
             "quantize": 10000, **extra},
            {},
        )
        cents = km["centroids"].persist()
        cents.count()
        t_fit = time.perf_counter() - t0
        t0 = time.perf_counter()
        sd = get_operator("dedup.semantic")(
            spark, [docs, cents],
            {"id_col": "vid", "vec_col": "v", "threshold": 0.98,
             "quantize": 10000, "return_pairs": True},
            {},
        )
        survivors = sd["out"].count()
        recalled = sd["pairs"].filter(
            (F.col("b") - F.col("a")) == n_vec
        ).count()
        t_dedup = time.perf_counter() - t0
        cents.unpersist()
        print(
            f"PROBE semdedup_recipe[{tag}]: n={total} k={k} "
            f"kmeans={t_fit:.1f}s dedup={t_dedup:.1f}s "
            f"survivors={survivors} recall={recalled}/{planted}"
        )
        return t_fit + t_dedup, recalled

    t_full, r_full = leg("full", {})
    t_mb, r_mb = leg("mb0.1", {"batch_frac": 0.1})
    print(
        f"PROBE semdedup_recipe: end-to-end speedup={t_full/t_mb:.2f}x "
        f"recall full={r_full}/{planted} mb={r_mb}/{planted}"
    )
    docs.unpersist()


def probe_bloom(spark, n=20_000_000, n_block=1_000_000):
    """filter.bloom at 20M corpus rows vs a 1M-key blocklist: the
    bitmap build is blocklist-sized (one groupBy over <= k*B distinct
    positions), the probe is a single narrow corpus pass against the
    broadcast word array (m=2^24 -> 256k words, 2 MiB). Exactness: with
    m=2^24/k=7 and 1M keys the fill ratio is ~0.26 so FPs exist but are
    deterministic; every true member must hit (one-sided contract)."""
    corpus = (
        spark.range(n)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("k"), (F.col("id") % (n // 2)).cast("string"))
            .alias("key"),  # half the keys repeat once
        )
    )
    block = (
        spark.range(n_block)
        .select(F.concat(F.lit("k"), (F.col("id") * 7).cast("string"))
                .alias("key"))  # every 7th key-space point
    )
    t0 = time.perf_counter()
    out = get_operator("filter.bloom")(
        spark, [corpus, block],
        {"key_col": "key", "m_bits": 1 << 24, "k": 7}, {},
    )
    hits = out.filter("bloom_hit").count()
    dt = time.perf_counter() - t0
    t0 = time.perf_counter()
    out2 = get_operator("filter.bloom")(
        spark, [corpus, block],
        {"key_col": "key", "m_bits": 1 << 24, "k": 7,
         "hash_fn": "xxhash64"}, {},
    )
    hits2 = out2.filter("bloom_hit").count()
    dt2 = time.perf_counter() - t0
    print(
        f"PROBE bloom[xxhash64]: {dt2:.1f}s ({n/dt2:,.0f} rows/s) "
        f"hits={hits2} one_sided_ok={hits2 >= 2 * n_block}"
    )
    # true members: the n_block block keys k(7i), 7i < n//2 by
    # construction, each appearing exactly twice in the corpus
    true_rows = 2 * n_block
    print(
        f"PROBE bloom: n={n} block={n_block} {dt:.1f}s "
        f"({n/dt:,.0f} rows/s) hits={hits} true={true_rows} "
        f"fp_rows={hits - true_rows} one_sided_ok={hits >= true_rows}"
    )


def probe_url(spark, n=20_000_000, viral_pct=30):
    """dedup.url under viral-URL skew: ONE url carries `viral_pct`% of
    all rows (the front-page-link shape a raw-web crawl actually has).
    The survivor rule is groupBy(md5(canon)) + min-id join-back — NO
    window over the hot key (invariant 17), so the viral group is a
    partial-aggregated count, not a single-task sort. Exactness: the
    survivor count must equal the distinct-canon count and the viral
    group must keep its min id."""
    urls = (
        spark.range(n)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.pmod(F.col("id"), 100) < viral_pct,
                F.lit("HTTPS://WWW.Viral.COM:443/front?utm_source=x&b=2&a=1"),
            )
            .otherwise(
                F.concat(
                    F.lit("https://site"),
                    F.pmod(F.col("id"), 1000).cast("string"),
                    F.lit(".com/p/"),
                    F.pmod(F.col("id"), 10000).cast("string"),
                    F.lit("?a=1&Fbclid=x"),
                )
            )
            .alias("url"),
        )
        .persist()
    )
    total = urls.count()
    # two timed runs: the first pays whole-stage-codegen + C2 JIT on
    # the regex-heavy generated code (~7x on this chain — measured
    # 150s cold vs 20s warm at 20M); the warm number is the
    # steady-state a long-running cluster actually sees
    dts = []
    for _ in range(2):
        t0 = time.perf_counter()
        out = get_operator("dedup.url")(
            spark, [urls], {"url_col": "url", "id_col": "doc_id"}, {}
        )
        survivors = out.count()
        dts.append(time.perf_counter() - t0)
    dt = dts[-1]
    # 1 viral canon + 7000 cold canons: the cold URL is a function of
    # id%10000 (id%1000 = (id%10000)%1000 since 1000 | 10000), and only
    # residues with r%100 >= viral_pct are cold -> 10000 * 70% = 7000
    viral_min = out.filter(
        F.col("url_canon") == "https://viral.com/front?a=1&b=2"
    ).agg(F.min("doc_id")).collect()[0][0]
    exact = survivors == 7_001 and viral_min == 0
    print(
        f"PROBE url: n={total} viral={viral_pct}% dedup cold={dts[0]:.1f}s "
        f"warm={dt:.1f}s survivors={survivors} viral_min={viral_min} "
        f"exact={exact} ({total/dt:,.0f} rows/s warm)"
    )
    urls.unpersist()


def probe_holdout(spark, n_docs=2_000_000, clique=500_000):
    """sample.holdout with a 500k-member connected component (star
    edges through the shared cc pass) + 100k independent 2-cliques:
    the component label must stamp the corpus via ONE broadcast join
    and NO component may straddle the train/test boundary."""
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(F.col("id").alias("doc_id"))
        .persist()
    )
    docs.count()
    star = spark.range(1, clique).select(
        F.lit(0).cast("long").alias("a"), F.col("id").alias("b")
    )
    pairs2 = (
        spark.range(clique, clique + 200_000)
        .filter(F.pmod(F.col("id"), 2) == 0)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    pairs = star.unionByName(pairs2)
    t0 = time.perf_counter()
    res = get_operator("sample.holdout")(
        spark, [docs, pairs], {"id_col": "doc_id", "test_frac": 0.1}, {}
    )
    out = res["out"].persist()
    n_train = res["train"].count()
    n_test = res["test"].count()
    dt = time.perf_counter() - t0
    big_sides = out.filter(F.col("doc_id") < clique).select(
        "side"
    ).distinct().count()
    straddle = (
        out.groupBy("comp")
        .agg(F.count_distinct("side").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    print(
        f"PROBE holdout: n={n_docs} clique={clique} split={dt:.1f}s "
        f"train={n_train} test={n_test} big_comp_sides={big_sides} "
        f"straddling_components={straddle} ({n_docs/dt:,.0f} docs/s)"
    )
    out.unpersist()
    docs.unpersist()


def probe_prune(spark, n_vec=2_000_000, dim=64, k=1024, frac=0.5):
    """cluster.prune at k=1024 over 2M x 64-dim — the per-cluster rank
    window carries ~2k rows (occupancy = corpus/k, the operator's
    documented scale contract). Assignments and centroids are synthetic
    (pmod-hash balanced) to isolate PRUNE's cost from a kmeans fit.
    Exactness: kept == sum_c (n_c - floor(frac * n_c))."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0)
        .cast("float"),
    )
    assigned = (
        spark.range(n_vec)
        .repartition(64)
        .select(
            F.col("id").alias("vid"),
            vec.alias("v"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(99)), k)
            .cast("int")
            .alias("cluster"),
        )
        .persist()
    )
    assigned.count()
    cents = spark.range(k).select(
        F.col("id").cast("int").alias("cluster"),
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim"),
    ).select(
        "cluster",
        F.col("dim").cast("int").alias("dim"),
        (F.pmod(F.xxhash64("cluster", "dim"), 20001) - 10000)
        .cast("long")
        .alias("val"),
    )
    t0 = time.perf_counter()
    res = get_operator("cluster.prune")(
        spark,
        [assigned, cents],
        {"id_col": "vid", "vec_col": "v", "prune_frac": frac,
         "keep": "hard", "quantize": 10000},
        {},
    )
    kept = res["out"].count()
    dt = time.perf_counter() - t0
    sizes = assigned.groupBy("cluster").count().collect()
    import math

    expect = sum(r["count"] - math.floor(frac * r["count"]) for r in sizes)
    occ = sorted(r["count"] for r in sizes)
    print(
        f"PROBE prune: n={n_vec} dim={dim} k={k} frac={frac} "
        f"prune={dt:.1f}s kept={kept} expect={expect} "
        f"exact={kept == expect} occupancy med/max="
        f"{occ[len(occ)//2]}/{occ[-1]} ({n_vec/dt:,.0f} vec/s)"
    )
    assigned.unpersist()


def probe_hotbucket(spark, n_docs=510_000, hot=300):
    """The uncached-caller hot-bucket cost (round-5 NOTES: 100.3s vs
    the 53s pre-fix floor): dedup.minhash with its DEFAULT uncached
    signature stage on (a) a uniform corpus (no hot bucket) and (b) the
    same corpus + `hot` identical docs (a hot bucket in EVERY band).
    Round-6 _bucket_pairs auto-persists the banded frame when the
    caller didn't and materializes the candidate set while the cache is
    alive, so (b) must land near (a) plus the unavoidable |B|^2 verify
    work — not at 2x from recomputed signature passes."""
    base = _uniform_corpus(spark, n_docs).persist()
    n_a = base.count()
    cfg = {"id_col": "doc_id", "text_col": "text", "threshold": 0.8,
           "num_hashes": 128, "bands": 16, "return_pairs": True}
    # warm whole-stage-codegen/JIT on a small slice first so the A/B
    # compares plans, not first-compile (the signature kernel's first
    # execution measured ~3x)
    warm = base.limit(20_000)
    get_operator("dedup.minhash")(spark, [warm], dict(cfg), {})[
        "out"
    ].count()
    t0 = time.perf_counter()
    out_a = get_operator("dedup.minhash")(spark, [base], dict(cfg), {})
    pairs_a = out_a["pairs"].count()
    surv_a = out_a["out"].count()
    t_a = time.perf_counter() - t0

    hot_docs = spark.range(hot).select(
        (F.col("id") + 10 * n_docs).alias("doc_id"),
        F.lit(" ".join(f"hotword{i}" for i in range(40))).alias("text"),
    )
    corpus_b = base.unionByName(hot_docs).persist()
    n_b = corpus_b.count()
    t0 = time.perf_counter()
    out_b = get_operator("dedup.minhash")(spark, [corpus_b], dict(cfg), {})
    pairs_b = out_b["pairs"].count()
    surv_b = out_b["out"].count()
    t_b = time.perf_counter() - t0
    hot_pairs = out_b["pairs"].filter(
        (F.col("a") >= 10 * n_docs) & (F.col("b") >= 10 * n_docs)
    ).count()
    exact = hot_pairs == hot * (hot - 1) // 2
    print(
        f"PROBE hotbucket: n={n_a} uniform={t_a:.1f}s pairs={pairs_a} "
        f"surv={surv_a} | +{hot} identical: n={n_b} hot={t_b:.1f}s "
        f"pairs={pairs_b} surv={surv_b} hot_pairs={hot_pairs} "
        f"exact={exact} ratio={t_b/t_a:.2f}x"
    )
    corpus_b.unpersist()
    base.unpersist()


def probe_media(spark, n_imgs=200_000, n_wavs=200_000):
    """Round-8 real decoders at corpus scale: media.decode
    decoder='png' (zlib inflate + numpy unfilter per payload, Arrow
    batches) over n_imgs distinct 16x16 RGB PNGs, and media.audio_stats
    over n_wavs 1k-frame 16-bit PCM WAVs. Payloads are GENERATED INSIDE
    the executors (mapInPandas builders keyed on id — no driver-side
    corpus), so the probe measures decode throughput, not fixture I/O.
    Sanity: every decode must succeed, and per-row invariants
    (dimensions, exact flat-image pixel bytes spot-check, wav rms of a
    constant half-scale square wave = 0.5) hold on a sample."""
    import pandas as pd

    def make_pngs(it):
        import struct
        import zlib

        import numpy as np

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d)))

        ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0))
        for pdf in it:
            payloads = []
            for i in pdf["id"]:
                # deterministic per-id pixels: row y = (id+y) % 256 gray
                rows = b"".join(
                    b"\x00" + bytes([(int(i) + y) % 256]) * 48
                    for y in range(16)
                )
                payloads.append(
                    b"\x89PNG\r\n\x1a\n" + ihdr
                    + chunk(b"IDAT", zlib.compress(rows))
                    + chunk(b"IEND", b"")
                )
            yield pd.DataFrame({"doc_id": pdf["id"], "payload": payloads})

    imgs = (
        spark.range(n_imgs).repartition(64)
        .mapInPandas(make_pngs, schema="doc_id long, payload binary")
    )
    t0 = time.perf_counter()
    dec = get_operator("media.decode")(
        spark, [imgs], {"binary_col": "payload", "decoder": "png"}, {})
    ok, n = dec.agg(
        F.sum(F.col("decode_ok").cast("long")), F.count(F.lit(1))
    ).first()
    dt_png = time.perf_counter() - t0
    assert ok == n == n_imgs, (ok, n)
    spot = dec.filter("doc_id = 1000").select("pixels").first()[0]
    expect0 = bytes([(1000 + 0) % 256]) * 48
    assert bytes(spot)[:48] == expect0, "pixel spot-check failed"
    print(
        f"PROBE media png: n={n_imgs} decode={dt_png:.1f}s "
        f"({n_imgs/dt_png:,.0f} imgs/s) all ok, pixels spot-checked"
    )

    def make_jpegs(it):
        # one fixed 16x16 gray baseline JPEG built inline (DC-only
        # blocks, hand-style custom tables) — decode cost is what's
        # being measured, so payload variety doesn't matter here
        import struct

        dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
        sof = (b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 16, 16, 1)
               + bytes([1, 0x11, 0]))
        dht_dc = (b"\xff\xc4" + struct.pack(">H", 20) + b"\x00"
                  + bytes([0, 0, 0, 0, 0, 0, 0, 1] + [0] * 8) + bytes([7]))
        dht_ac = (b"\xff\xc4" + struct.pack(">H", 20) + b"\x10"
                  + bytes([0, 0, 0, 0, 0, 0, 0, 1] + [0] * 8)
                  + bytes([0x00]))
        sos = (b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
               + b"\x00\x3f\x00")
        # 4 MCU blocks: first DC diff=80 (cat7), then three diff=0 (the
        # single-symbol DC table only has cat 7 -> use 4 identical
        # blocks each coding diff 80/…; simplest exact stream: block1
        # diff=80, blocks 2-4 need cat 7 too — emit diff 64 each time?
        # cat(64)=7 ✓ (64..127). bits: code(0,8)+7bits+eob(0,8).
        bits = []
        for diff in (80, 64, 64, 64):
            bits += [0] * 8 + [int(b) for b in format(diff, "07b")]
            bits += [0] * 8
        while len(bits) % 8:
            bits.append(1)
        data = bytes(
            int("".join(map(str, bits[i:i + 8])), 2)
            for i in range(0, len(bits), 8))
        assert 0xFF not in data
        jpg = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + data \
            + b"\xff\xd9"
        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["id"], "payload": [jpg] * len(pdf)})

    jpgs = (
        spark.range(n_imgs // 4).repartition(64)
        .mapInPandas(make_jpegs, schema="doc_id long, payload binary")
    )
    t0 = time.perf_counter()
    jd = get_operator("media.decode")(
        spark, [jpgs], {"binary_col": "payload", "decoder": "jpeg"}, {})
    jok, jn = jd.agg(
        F.sum(F.col("decode_ok").cast("long")), F.count(F.lit(1))
    ).first()
    dt_jpg = time.perf_counter() - t0
    assert jok == jn == n_imgs // 4, (jok, jn)
    print(
        f"PROBE media jpeg: n={n_imgs // 4} decode={dt_jpg:.1f}s "
        f"({(n_imgs // 4)/dt_jpg:,.0f} imgs/s) all ok "
        f"(pure-Python Huffman — the honest slow-path number)"
    )

    def make_gifs(it):
        import struct

        # 2x2 two-color GIF with the hand-derived LZW stream (see
        # tests::TestGifPixelDecode) — indices [0,1,1,0]
        def chunk_gif():
            return (b"GIF89a"
                    + b"\x02\x00\x02\x00\x80\x00\x00"
                    + b"\xff\x00\x00" + b"\x00\xff\x00"
                    + b"\x2c\x00\x00\x00\x00\x02\x00\x02\x00\x00"
                    + b"\x02" + b"\x03\x44\x02\x05" + b"\x00" + b"\x3b")

        gif = chunk_gif()
        assert struct.calcsize("<H") == 2
        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["id"], "payload": [gif] * len(pdf)})

    gifs = (
        spark.range(n_imgs).repartition(64)
        .mapInPandas(make_gifs, schema="doc_id long, payload binary")
    )
    t0 = time.perf_counter()
    gd = get_operator("media.decode")(
        spark, [gifs], {"binary_col": "payload", "decoder": "gif"}, {})
    gok, gn = gd.agg(
        F.sum(F.col("decode_ok").cast("long")), F.count(F.lit(1))
    ).first()
    dt_gif = time.perf_counter() - t0
    assert gok == gn == n_imgs, (gok, gn)
    print(
        f"PROBE media gif: n={n_imgs} decode={dt_gif:.1f}s "
        f"({n_imgs/dt_gif:,.0f} imgs/s) all ok"
    )

    def make_wavs(it):
        import struct

        hdr_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        frames = b"".join(
            struct.pack("<h", 16384 if j % 2 == 0 else -16384)
            for j in range(1000)
        )
        wav = (b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8 + len(frames))
               + b"WAVE" + b"fmt " + struct.pack("<I", 16) + hdr_fmt
               + b"data" + struct.pack("<I", len(frames)) + frames)
        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["id"], "payload": [wav] * len(pdf)})

    wavs = (
        spark.range(n_wavs).repartition(64)
        .mapInPandas(make_wavs, schema="doc_id long, payload binary")
    )
    t0 = time.perf_counter()
    st = get_operator("media.audio_stats")(
        spark, [wavs], {"binary_col": "payload"}, {})
    row = st.agg(
        F.sum(F.col("audio_ok").cast("long")).alias("ok"),
        F.min("rms").alias("rmin"), F.max("rms").alias("rmax"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    dt_wav = time.perf_counter() - t0
    assert row["ok"] == row["n"] == n_wavs
    assert row["rmin"] == row["rmax"] == 0.5  # half-scale square wave
    print(
        f"PROBE media wav: n={n_wavs} decode={dt_wav:.1f}s "
        f"({n_wavs/dt_wav:,.0f} wavs/s) all ok, rms exact 0.5"
    )


def probe_band_compact(spark, n_rows=20_000_000, bands=16, appends=8):
    """maintenance.compact_band_store at 20M band rows accreted over
    8 'daily' appends: measures append-era file count, compaction wall
    time, post-compaction file count, and pins content equality via
    corpus-level aggregates (count + sum/xor-ish of _bh) before/after.
    The store layout keeps _band partitioning, so the incremental-dedup
    probe's partition pruning survives compaction."""
    import shutil
    import tempfile

    from ssis_to_pyspark_agent_spark.operators.dedup import (
        compact_band_store, read_band_store, write_band_store)

    per = n_rows // appends
    root = tempfile.mkdtemp(prefix="graft_band_compact_")
    path = root + "/store"
    t0 = time.perf_counter()
    for a in range(appends):
        batch = (
            spark.range(per).repartition(8)
            .select(
                (F.col("id") + a * per).alias("_id"),
                F.pmod(F.xxhash64("id", F.lit(a)), F.lit(bands))
                .cast("int").alias("_band"),
                F.xxhash64("id", F.lit(a + 100)).alias("_bh"),
            )
        )
        write_band_store(batch, path, mode="append",
                         params={"bands": bands})
    dt_app = time.perf_counter() - t0

    def agg_sig(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_bh") % 1_000_003).alias("s"),
            F.sum(F.col("_id")).alias("i"),
        ).first()

    import glob
    files_before = len(glob.glob(f"{path}/_band=*/*.parquet"))
    sig_before = agg_sig(read_band_store(spark, path))
    t0 = time.perf_counter()
    n_files = compact_band_store(spark, path, target_mb=64)
    dt = time.perf_counter() - t0
    sig_after = agg_sig(read_band_store(spark, path))
    assert sig_before == sig_after, (sig_before, sig_after)
    print(
        f"PROBE band_compact: rows={n_rows} appends={appends} "
        f"append_total={dt_app:.1f}s files {files_before} -> {n_files} "
        f"compact={dt:.1f}s ({n_rows/dt:,.0f} rows/s) content identical"
    )
    shutil.rmtree(root, ignore_errors=True)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark(
        app_name="scale_probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    if which in ("docs", "all"):
        probe_docs(spark)
    if which in ("simhash", "all"):
        probe_simhash(spark)
    if which in ("ann", "all"):
        probe_ann(spark)
    if which in ("skew", "all"):
        probe_skew(spark)
    if which in ("embdedup", "all"):
        probe_embdedup(spark)
    if which in ("semantic", "all"):
        probe_semantic(spark)
    if which in ("cdc", "all"):
        probe_cdc(spark)
    if which in ("hygiene", "all"):
        probe_hygiene(spark)
    if which in ("ngram", "all"):
        probe_ngram(spark)
    if which in ("ivf", "all"):
        probe_ivf(spark)
    if which in ("repetition", "all"):
        probe_repetition(spark)
    if which in ("spans", "all"):
        probe_spans(spark)
    if which in ("incremental", "all"):
        probe_incremental(spark)
    if which in ("pack", "all"):
        probe_pack(spark)
    if which in ("pack_skew", "all"):
        probe_pack_skew(spark)
    if which in ("balanced", "all"):
        probe_balanced(spark)
    if which in ("mixture", "all"):
        probe_mixture(spark)
    if which in ("novelty", "all"):
        probe_novelty(spark)
    if which in ("lm", "all"):
        probe_lm(spark)
    if which in ("spans_skew", "all"):
        probe_spans_skew(spark)
    if which in ("adversarial", "all"):
        probe_adversarial(spark)
    if which in ("ngram_auto", "all"):
        probe_ngram_auto(spark)
    if which in ("semantic_boundary", "all"):
        probe_semantic_boundary(spark)
    if which in ("cc", "all"):
        probe_cc(spark)
    if which in ("importance", "all"):
        probe_importance(spark)
    if which in ("kmeans", "all"):
        probe_kmeans(spark)
    if which in ("url", "all"):
        probe_url(spark)
    if which in ("holdout", "all"):
        probe_holdout(spark)
    if which in ("prune", "all"):
        probe_prune(spark)
    if which in ("hotbucket", "all"):
        probe_hotbucket(spark)
    if which in ("kmeans_mb", "all"):
        probe_kmeans_minibatch(spark)
    if which in ("temperature", "all"):
        probe_temperature(spark)
    if which in ("funnel", "all"):
        probe_funnel(spark)
    if which in ("funnel_report", "all"):
        probe_funnel_report(spark)
    if which in ("semdedup_recipe", "all"):
        probe_semdedup_recipe(spark)
    if which in ("bloom", "all"):
        probe_bloom(spark)
    if which in ("media", "all"):
        probe_media(spark)
    if which in ("band_compact", "all"):
        probe_band_compact(spark)


if __name__ == "__main__":
    main()
