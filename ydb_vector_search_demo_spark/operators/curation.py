"""Corpus-curation operators: the steps that turn raw documents plus
near-duplicate PAIRS into an actual training corpus — duplicate
clustering with a canonical keeper, quality gating with attributable
drop reasons, deterministic train/validation splitting, and PII
redaction.

North-star LLM-pipeline extensions (BASELINE.json); the reference's
corpus arrives pre-cleaned in its vector store, so none of this exists
there — these are the operators a 100 TB ingest would run *before*
embedding (reference ingest script absent from the snapshot,
/root/reference/README.md:62).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.operators.knn import vector_literal


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    src_col: str = "a",
    dst_col: str = "b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node starts labeled with itself; each
    round every node takes the minimum label among itself and its
    neighbors; convergence when no label changes.

    Output: (node_col, cluster_id) for EVERY node (singletons keep
    their own id as cluster_id).

    Scale posture: each round is one shuffle join (labels ⋈ edges) plus
    one aggregation — O(diameter) rounds. Near-duplicate graphs are
    overwhelmingly tiny star-shaped clusters (diameter ≤ ~4), so this
    converges in a handful of rounds; for adversarial long-chain graphs
    the large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce", SoCC'14) drops rounds to O(log n) — same
    join primitive, different edge rewrite. The convergence check is a
    driver-side count of changed labels (an O(1)-row action per round,
    never a collect of the graph). Each round's labels are an eager
    localCheckpoint — lineage is truncated per round, and dropping the
    Python reference to the previous round lets Spark's ContextCleaner
    reclaim its blocks.
    """
    sym = (
        edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y"))
        .union(edges.select(F.col(dst_col).alias("x"), F.col(src_col).alias("y")))
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist): every round derives from the
    # previous labels TWICE, so without truncation the logical plan
    # doubles per round and planning itself blows up after ~20 rounds.
    # Eager local checkpointing materializes the round AND cuts lineage.
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.y == labels.node)
            .groupBy("x")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.x, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"label propagation did not converge in {max_iterations} rounds "
            "(graph diameter exceeds the cap) — raise max_iterations or use "
            "connected_components_star (O(log n) rounds)"
        )
    sym.unpersist()
    return labels.select(F.col("node").alias(node_col), F.col("label").alias("cluster_id"))


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "a",
    dst_col: str = "b",
) -> DataFrame:
    """Near-duplicate CLUSTERS with a canonical keeper — the step that
    turns a pair list (from any of the dedup operators) into the actual
    keep/drop decision a training pipeline needs: transitively-connected
    documents form one cluster, the lowest id is kept, the rest drop.

    Output per document: (id, cluster_id, cluster_size, is_canonical).

    Components come from the large-star/small-star method
    (:func:`connected_components_star`) — O(log n) rounds regardless
    of cluster shape, so an adversarial duplicate CHAIN can't stall
    the job the way it would stall plain label propagation.
    """
    comp = connected_components_star(pairs, documents, node_col=id_col,
                                     src_col=src_col, dst_col=dst_col)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style keep/drop decision (r4 verdict task #6): cell-
    bucketed cosine-ε pairs (``dedup.semantic_near_dup_pairs``, reusing
    the IVF assignment) fed through :func:`dedup_clusters` — inside
    each embedding cluster, the lowest id is the kept representative
    and everything transitively within ε of it drops. Deterministic by
    construction (seeded centroids + min-id keeper): two runs produce
    identical decisions.

    Output per embedding: (id, cluster_id, cluster_size, is_canonical)
    — ``is_canonical = false`` rows are the semantic duplicates a
    training pipeline removes. Transitive closure makes this the
    cluster-variant of the paper's drop rule (a chain a~b~c groups c
    with a even when d(a,c) > ε) — the behavior curation pipelines
    actually want, since any chain member re-enters the corpus
    otherwise."""
    from ydb_vector_search_demo_spark.operators.dedup import (
        semantic_near_dup_pairs_bucketed,
    )

    # pairs are cell-local by construction → components resolve with
    # ONE shuffle (bucket-wise union-find) instead of the global star
    # method's O(log n) iterative rounds; output contract identical
    # (equality with the star path pinned in tests).
    pairs = semantic_near_dup_pairs_bucketed(
        embeddings, centroids, eps=eps, id_col=id_col, vector_col=vector_col
    )
    return dedup_clusters_bucketed(
        embeddings.select(id_col), pairs, id_col=id_col
    )


def quality_gate(
    documents: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.2,
    min_quality: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """Quality gate with ATTRIBUTABLE drop reasons (first failing rule
    wins, checked in a fixed order) — a filter that only says "dropped"
    is undebuggable at 100 TB; per-reason counts are how curation
    pipelines monitor drift. Pure column expressions, map-only."""
    from ydb_vector_search_demo_spark.functions import textstats as T

    # stage the token array once — the rules below reference it several
    # times, and expressions re-evaluate per reference unless aliased
    # (same pattern as the text_quality catalog query)
    staged = documents.withColumn("_toks", T.tokens(text_col))
    n_tok = F.size(F.col("_toks"))
    punct = T.punct_ratio(text_col)
    quality = F.round(T.quality_score_of(F.col("_toks"), text_col, "en"), 6)
    reason = (
        F.when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when(punct > max_punct_ratio, F.lit("too_much_punct"))
        .when(quality < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return staged.withColumn("gate", reason).drop("_toks")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    salt: str = "split-v1",
) -> Column:
    """Deterministic train/validation assignment from a salted md5 of
    the id — stable across engines, runs, partitionings and appends
    (the property a %-of-rows or rand() split lacks). Returns a column;
    callers attach it with withColumn. The md5-hex-prefix → integer
    bucket construction is portable SQL (DuckDB computes the identical
    value, so the split itself is oracle-checkable)."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), df[id_col].cast("string"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 100
    )
    return F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("validation"))


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic domain mixing — the corpus-composition op every
    LLM training pipeline runs before tokenization: per-source sampling
    rates, DOWN (rate < 1: keep a salted-md5-bucketed fraction) and UP
    (rate > 1: integer repetition plus a bucketed fractional extra
    copy, e.g. 2.5 → every doc twice, half the docs a third time).
    Output rows carry ``copy_col`` (1-based repetition index).

    Same stability argument as :func:`hash_split`: the md5 bucket is a
    pure function of (salt, source, id), so the mix is identical across
    engines, runs, partitionings and appends — and therefore fully
    oracle-checkable. Five hex chars → bucket %% 10000 keeps the
    modulo bias under 0.1%%. Map-only except the explode (which emits
    exactly the sampled rows); no shuffle."""
    rate = F.lit(float(default_rate))
    for s, r in sorted(weights.items()):
        rate = F.when(F.col(source_col) == s, F.lit(float(r))).otherwise(rate)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col(source_col),
                        F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                5,
            ),
            16,
            10,
        ).cast("int")
        % 10000
    )
    base = F.floor(rate).cast("int")
    frac_extra = F.when(bucket < (rate - F.floor(rate)) * 10000, 1).otherwise(0)
    copies = (base + frac_extra).alias("_copies")
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)  # sequence(1,0) would count DOWN
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("_copies"))))
        .drop("_copies")
    )


# Ordered redaction rules: (name, pattern, replacement). Email first so
# the phone pattern can't eat the digits inside an address's local
# part; IP before phone because a dotted quad is also a valid match for
# the broad phone pattern. Patterns stay in the RE2 ∩ Java-regex
# dialect so the DuckDB oracle applies them verbatim.
REDACTION_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(text: Column | str) -> Column:
    """Apply the ordered redaction rules (emails, phone-like digit
    runs, IPv4 literals) — regexp_replace chain, JVM-side, map-only."""
    col = F.col(text) if isinstance(text, str) else text
    for _, pattern, repl in REDACTION_RULES:
        col = F.regexp_replace(col, pattern, repl)
    return col


def redaction_counts(text: Column | str) -> list[Column]:
    """One count column per redaction rule (how many matches each rule
    would hit) — the monitoring side of redact_pii."""
    col = F.col(text) if isinstance(text, str) else text
    out = []
    for name, pattern, _ in REDACTION_RULES:
        out.append(F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).alias(f"n_{name}"))
    return out


def pack_sequences(
    df: DataFrame,
    budget: int,
    bucket_col: str = "bucket",
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequence packing for LLM training batches: within each
    bucket, walk rows in ``order_col`` order accumulating token counts
    and start a new pack whenever adding the next row would exceed
    ``budget`` (a row larger than the budget gets a pack of its own).

    This is inherently sequential state per bucket, so it runs as an
    Arrow-batched applyInPandas over bucket groups — the bucket is the
    parallelism unit, exactly how a production packer shards (by file,
    tenant or hash bucket). Deterministic: (bucket, order) fixes the
    walk. Output adds an integer ``pack_id`` per row; pack token sums
    never exceed the budget except for single oversized rows (property
    tested)."""
    import pandas as pd

    out_fields = df.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    out_schema += ", pack_id int"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        ids = []
        pack_id, acc = 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if acc > 0 and acc + t > budget:
                pack_id += 1
                acc = 0
            acc += t
            ids.append(pack_id)
        pdf["pack_id"] = pd.array(ids, dtype="int32")
        return pdf

    return df.groupBy(bucket_col).applyInPandas(pack, out_schema)


def pack_sequences_ffd(
    df: DataFrame,
    budget: int,
    bucket_col: str = "bucket",
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """OFFLINE sequence packing by First-Fit-Decreasing — the
    padding-waste optimizer next to :func:`pack_sequences`' greedy
    next-fit walk (next-fit is the ONLINE/streaming packer: one open
    pack, O(1) state; FFD sorts items largest-first and places each
    into the FIRST pack with room, the classic offline heuristic with
    the 11/9·OPT + 6/9 guarantee — Johnson 1973; next-fit only
    guarantees 2·OPT). Padding waste is real training cost: every
    unused token in a pack is a padded position the forward pass
    still pays for, so an offline corpus build runs FFD (or better)
    where a streaming ingest runs next-fit.

    Semantics: within each bucket, items sort by (tokens DESC,
    ``order_col`` ASC — the deterministic tie-break), each item goes
    to the lowest-numbered pack whose remaining capacity fits it,
    else opens a new pack; an item larger than the budget opens its
    own (permanently overfull) pack — the next-fit convention —
    and ``pack_id`` is 0-based in pack-open order, matching
    :func:`pack_sequences` so the A/B rows join on identical keys.
    Deterministic: (bucket, sort order) fixes the walk; the DuckDB
    oracle replays it with a recursive CTE carrying the capacity
    LIST as a functional column (never a list_reduce struct fold —
    seam #7).

    Scale shape: identical to pack_sequences — the bucket is the
    parallelism unit for one Arrow-batched applyInPandas walk; FFD's
    extra state is the open-capacity array (packs-per-bucket sized).
    Output adds ``pack_id`` (0-based, pack-open order) per row."""
    import pandas as pd

    out_fields = df.schema.fields
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    )
    out_schema += ", pack_id int"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [token_col, order_col], ascending=[False, True]
        ).reset_index(drop=True)
        caps: list[int] = []
        ids = []
        for t in pdf[token_col]:
            t = int(t)
            for i, c in enumerate(caps):
                if c >= t:
                    caps[i] = c - t
                    ids.append(i)
                    break
            else:
                caps.append(int(budget) - t)
                ids.append(len(caps) - 1)
        pdf["pack_id"] = pd.array(ids, dtype="int32")
        return pdf

    return df.groupBy(bucket_col).applyInPandas(pack, out_schema)


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    src_col: str = "a",
    dst_col: str = "b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round scale path for graphs where plain
    min-label propagation (:func:`connected_components`) would need
    O(diameter) rounds (long chains).

    * large-star: every node u links each LARGER neighbor to the
      minimum of its neighborhood (incl. u);
    * small-star: every node u links each neighbor ≤ u (and itself)
      to that set's minimum.

    Each phase is one groupBy-node shuffle. The edge set converges to
    a star forest (every node → its component's minimum id); the
    convergence check compares an order-insensitive edge-set checksum
    (one tiny aggregate per round, nothing collected). Output matches
    :func:`connected_components`: (node_col, cluster_id) for every
    node, singletons included.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def checksum(df: DataFrame) -> int:
        lo, hi = F.least("u", "v"), F.greatest("u", "v")
        row = (
            df.select(F.xxhash64(lo, hi).cast("decimal(38,0)").alias("h"))
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        return (row["s"] or 0, row["n"])

    def large_star(df: DataFrame) -> DataFrame:
        sym = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        m = F.least(F.array_min("nbrs"), F.col("u"))
        # no .distinct() here (r15): the only consumer is small_star,
        # whose collect_set dedups — the distinct was one full extra
        # exchange per round carrying the same rows (guide §2.4)
        return (
            grouped.select(
                F.explode("nbrs").alias("x"), m.alias("m"), F.col("u")
            )
            .filter(F.col("x") > F.col("u"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(df: DataFrame) -> DataFrame:
        # canonicalize so u >= v, then group the small neighbors
        canon = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        grouped = canon.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
        m = F.least(F.array_min("nbrs"), F.col("u"))
        linked = grouped.select(
            F.explode(
                F.array_union("nbrs", F.array(F.col("u")))
            ).alias("x"),
            m.alias("m"),
        )
        return (
            linked.filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    prev = None
    # eager localCheckpoint per round: each phase references its input
    # twice (the symmetrize/canonicalize unions), so lineage doubles
    # per round without truncation — see connected_components.
    e = e.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        sig = checksum(nxt)
        e = nxt
        if prev is not None and sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iterations} "
            "rounds — raise max_iterations (expected rounds ~ log2(n))"
        )
    roots = e.groupBy("u").agg(F.min("v").alias("root"))
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(roots, F.col("node") == roots.u, "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("root"), F.col("node")).alias("cluster_id"),
        )
    )


# ----------------------------------------------------------- contrastive
# Contrastive training-data construction (r5): hard-negative mining and
# (anchor, positive, negative) triplet assembly — the batch-retrieval
# consumer the engine's ANN/batch-KNN paths exist to feed (embedding-
# model fine-tuning, reranker training). The anchor batch is small by
# construction (the same contract as knn.batch_knn's broadcast side);
# mining for EVERY corpus item is a self-join — route that through
# dedup's banded-LSH candidates or ann.VectorStore.batch_search per shard.


def mine_hard_negatives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    label_col: str = "label",
    exclude_self: bool = True,
) -> DataFrame:
    """Per anchor: the k nearest corpus items with a DIFFERENT label —
    the items an embedding model most confuses (hard negatives).

    Shape: one corpus scan; the anchor batch (vector + label) rides a
    broadcast crossJoin, the label-mismatch filter applies BEFORE the
    per-anchor top-k window, and the cut is the same Partial
    WindowGroupLimit as knn.batch_knn — the scored product never
    shuffles in full, no Python nodes. Output: (query_id, vec_id,
    score, rank)."""
    from ydb_vector_search_demo_spark.functions.vector import distance
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    corpus = fan_out(embeddings)
    scored = corpus.crossJoin(F.broadcast(anchors)).filter(
        F.col(label_col) != F.col(query_label_col)
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    scored = scored.select(
        F.col(query_id_col),
        F.col(id_col),
        distance(vector_col, query_vec_col, metric).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mine_positives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per anchor: the k nearest SAME-label items excluding the anchor
    itself — in-batch positives for contrastive pairs. Same plan shape
    as :func:`mine_hard_negatives` with the label filter flipped."""
    from ydb_vector_search_demo_spark.functions.vector import distance
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    corpus = fan_out(embeddings)
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col(label_col) == F.col(query_label_col))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            distance(vector_col, query_vec_col, metric).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bitext_margin_mine(
    x_embs: DataFrame,
    y_embs: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    bucket_col: str | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """BITEXT MINING by margin-scored mutual nearest neighbors
    (Artetxe & Schwenk 2019; the CCMatrix/LASER parallel-corpus
    miner) — the similarity-search family's MINING member: align two
    embedding collections (two languages, two modalities, two
    snapshots) by pairing rows whose cosine stands out from each
    side's local neighborhood, margin(x, y) = cos(x, y) /
    (avg_k cos(x, NN_k(x→Y))/2 + avg_k cos(y, NN_k(y→X))/2) — the
    RATIO margin that suppresses hubs (a vector globally close to
    everything has a high denominator and mines nothing). Mined
    pairs: x's margin-argmax candidate and y's margin-argmax
    candidate agree (the intersection strategy) AND the margin clears
    ``threshold``.

    Shape: one cross-side scored join (confined to ``bucket_col``
    buckets when given — the knn_graph_bucketed n²/B valve; the
    graded fixture buckets by label, production buckets by IVF cell),
    per-side rank-k cuts as Partial-WindowGroupLimit windows, the
    k-neighbor cosine sums accumulated in RANK ORDER (the
    ordered-cumulative house convention — double addition is not
    associative, so both engines must fold identically), one margin
    projection, two argmax windows, one equi-join for the
    intersection. Exactness: cosines are fixed-order dot folds;
    the denominator is sx/(2k) + sy/(2k) in that literal order; ties
    break on candidate id. Rows with fewer than ``k`` cross-side
    neighbors in their bucket are dropped (their average would be a
    different estimator).

    Output: (x_id, y_id, cos, margin) for mined pairs, margin ≥
    threshold."""
    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm

    buckets = [bucket_col] if bucket_col else []

    def _side(df: DataFrame, tag: str) -> DataFrame:
        # fan_out: the cross-side pair scoring runs in the probe
        # side's partitions (the knn_graph_bucketed note)
        from ydb_vector_search_demo_spark.sources.tables import fan_out

        return fan_out(df).select(
            *buckets,
            F.col(id_col).alias(f"{tag}_id"),
            F.col(vector_col).alias(f"{tag}_v"),
            l2_norm(vector_col).alias(f"{tag}_n"),
        )

    xs, ys = _side(x_embs, "x"), _side(y_embs, "y")
    # NOT checkpointed, deliberately (r14 review A/B): the scored pair
    # relation appears ~7x in the logical plan (both _knn_sum passes,
    # the margin projection, both argmax windows), but Spark's runtime
    # stage/exchange reuse already deduplicates the execution — an
    # eager localCheckpoint measured SLOWER at sf0.1 (1.64 -> 2.00 s
    # benched) and neutral at x10 (40.8 vs 45.1 s). Re-measure before
    # re-adding.
    scored = (
        xs.join(ys, on=buckets) if buckets else xs.crossJoin(ys)
    ).select(
        "x_id",
        "y_id",
        F.try_divide(
            dot("x_v", "y_v"), F.col("x_n") * F.col("y_n")
        ).alias("cos"),
    )

    def _knn_sum(side: str) -> DataFrame:
        """Sum of the k best cosines per `side` row, folded in rank
        order via the ordered-cumulative window; rows with < k
        neighbors drop."""
        other = "y_id" if side == "x_id" else "x_id"
        w_rank = Window.partitionBy(side).orderBy(
            F.col("cos").desc(), F.col(other).asc()
        )
        w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (
            scored.withColumn("_rk", F.row_number().over(w_rank))
            .filter(F.col("_rk") <= int(k))
            .withColumn("_s", F.sum("cos").over(w_cum))
            .filter(F.col("_rk") == int(k))
            .select(F.col(side), F.col("_s").alias(f"s_{side[0]}"))
        )

    two_k = float(2 * int(k))
    margins = (
        scored.join(_knn_sum("x_id"), "x_id")
        .join(_knn_sum("y_id"), "y_id")
        .withColumn(
            "margin",
            F.col("cos")
            / (F.col("s_x") / F.lit(two_k) + F.col("s_y") / F.lit(two_k)),
        )
    )
    w_fwd = Window.partitionBy("x_id").orderBy(
        F.col("margin").desc(), F.col("y_id").asc()
    )
    w_bwd = Window.partitionBy("y_id").orderBy(
        F.col("margin").desc(), F.col("x_id").asc()
    )
    fwd = (
        margins.withColumn("_r", F.row_number().over(w_fwd))
        .filter(F.col("_r") == 1)
        .select("x_id", "y_id", "cos", "margin")
    )
    bwd = (
        margins.withColumn("_r", F.row_number().over(w_bwd))
        .filter(F.col("_r") == 1)
        .select(F.col("x_id").alias("bx"), F.col("y_id").alias("by"))
    )
    return fwd.join(
        bwd,
        (F.col("x_id") == F.col("bx")) & (F.col("y_id") == F.col("by")),
    ).filter(F.col("margin") >= F.lit(float(threshold))).select(
        "x_id", "y_id", F.round("cos", 6).alias("cos"),
        F.round("margin", 6).alias("margin"),
    )


def build_triplets(
    embeddings: DataFrame,
    anchors: DataFrame,
    n_negatives: int = 3,
    metric: str = "cosine",
    **kwargs,
) -> DataFrame:
    """(anchor, positive, negative) rows: the rank-1 same-label
    neighbour as positive × the ``n_negatives`` nearest other-label
    items — the standard triplet-loss batch, built from two broadcast
    corpus scans and one tiny per-anchor join. Output: (query_id,
    pos_id, pos_score, neg_id, neg_score, neg_rank), margin-ready
    (neg_score − pos_score is the triplet margin in distance space)."""
    query_id_col = kwargs.get("query_id_col", "query_id")
    pos = mine_positives(
        embeddings, anchors, k=1, metric=metric, **kwargs
    ).select(
        query_id_col,
        F.col("vec_id").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    neg = mine_hard_negatives(
        embeddings, anchors, k=n_negatives, metric=metric, **kwargs
    ).select(
        query_id_col,
        F.col("vec_id").alias("neg_id"),
        F.col("score").alias("neg_score"),
        F.col("rank").alias("neg_rank"),
    )
    return pos.join(neg, on=query_id_col, how="inner")


def bucketed_components(
    pairs: DataFrame,
    bucket_col: str = "centroid_id",
    src_col: str = "a",
    dst_col: str = "b",
) -> DataFrame:
    """Connected components for a pair graph whose edges NEVER span
    buckets (e.g. SemDeDup pairs, which exist only within an IVF cell
    by construction): group the edges by bucket and resolve each
    bucket's components with a local union-find in ONE Arrow-batched
    pass — one shuffle total, versus the O(log n) rounds × two keyed
    shuffles each of the global star method. Buckets are bounded (cells
    hold thousands of rows by index design), so per-group state is
    small. Output: (node, cluster_id = min node id in component) for
    every node that appears in a pair; singletons are absent (callers
    coalesce to the node's own id).

    This is a partition-wise specialization, not a replacement:
    a graph whose edges can cross buckets needs
    :func:`connected_components_star`. Equality with the star method on
    bucket-local graphs is pinned in tests/test_semantic_dedup.py."""
    import pandas as pd

    node_type = pairs.schema[src_col].dataType.simpleString()

    def _find(parent: dict, x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}
        for a, b in zip(pdf[src_col], pdf[dst_col]):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(parent, a), _find(parent, b)
            if ra != rb:
                # union by min id so the root IS the canonical keeper
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        return pd.DataFrame(
            {
                "node": list(parent),
                "cluster_id": [_find(parent, n) for n in parent],
            }
        )

    return (
        pairs.select(bucket_col, src_col, dst_col)
        .groupBy(bucket_col)
        .applyInPandas(_union_find, f"node {node_type}, cluster_id {node_type}")
    )


def dedup_clusters_bucketed(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "centroid_id",
    src_col: str = "a",
    dst_col: str = "b",
) -> DataFrame:
    """:func:`dedup_clusters` for bucket-local pair graphs: same output
    contract — (id, cluster_id, cluster_size, is_canonical) for EVERY
    document, min-id keeper — with components from the one-shuffle
    :func:`bucketed_components` instead of the iterative star method."""
    comp = bucketed_components(
        pairs, bucket_col=bucket_col, src_col=src_col, dst_col=dst_col
    )
    full = documents.select(F.col(id_col)).join(
        comp, F.col(id_col) == F.col("node"), "left"
    ).select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )
    sizes = full.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return full.join(F.broadcast(sizes), "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    n_per_stratum: int,
    seed: int = 42,
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """EXACT deterministic stratified sampling: at most ``n_per_stratum``
    rows per stratum, chosen by rank over a seeded content hash — the
    balanced-subsample step of a training-data pipeline where
    ``df.sampleBy`` is unusable (approximate counts, no determinism
    across retries/partitionings).

    Every row gets ``_rk = row_number() over (stratum, order by
    hash(id, seed), id)`` and survives iff ``_rk <= n``. The hash
    ordering makes the selection (a) deterministic for a given seed,
    (b) independent of physical row order, (c) re-drawable — a new seed
    yields an independent sample. One keyed shuffle (the window), cut
    by Catalyst's WindowGroupLimit before the exchange.

    Default hash is md5 over ``id:seed`` (engine-portable → the catalog
    query is fully DuckDB-oracle-checked); pass ``hash_fn`` (e.g. a
    xxhash64 wrapper) for 8-byte shuffle keys in production, same
    contract as dedup's hash seams."""
    h = hash_fn or (
        lambda c: F.md5(F.concat_ws(":", c.cast("string"), F.lit(str(seed))))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        h(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(n_per_stratum))
        .withColumnRenamed("_rk", "sample_rank")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize (clip) a numeric column at exact percentiles — the
    outlier-taming step feature pipelines run before normalization
    (a handful of extreme values otherwise dominate scale statistics).

    Uses Spark's EXACT ``percentile`` aggregate (PostgreSQL
    percentile_cont interpolation — portable to DuckDB's quantile_cont,
    so the catalog query is fully oracle-checked), computed ONCE in a
    one-row aggregate that is broadcast into a map-only clip. Bounds
    are rounded to 6 dp before clipping so both engines clip with the
    identical literal. At scale swap ``percentile`` for
    ``approx_percentile`` — same plan shape, sketch-merged instead of
    exact (the catalog keeps the exact form for the oracle)."""
    out_col = out_col or f"{value_col}_w"
    bounds = df.agg(
        F.round(F.expr(f"percentile({value_col}, {float(p_lo)})"), 6).alias("_lo"),
        F.round(F.expr(f"percentile({value_col}, {float(p_hi)})"), 6).alias("_hi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """LM-perplexity quality lever (the CCNet filter, Wenzek et al.
    2020, at unigram order): train an add-``alpha``-smoothed unigram
    model on the corpus itself — the count relation IS the model, one
    keyed aggregation, nothing collected — and score every document's
    mean surprisal in bits/token. Pipelines drop or bucket the
    high-surprisal tail (gibberish, boilerplate soup) and the
    low-surprisal head (degenerate repetition).

    Determinism contract: per-token surprisal is rounded to 6 dp and
    summed as exact integer micro-bits (the integer-cents convention),
    so the per-doc mean is independent of partial-aggregation order —
    a plain double sum across a shuffle is not.

    Scale shape: token explode → one count agg (map-side combine) →
    1-row stats broadcast → token-keyed join back (the vocabulary
    relation; Spark broadcasts it when it fits, shuffles otherwise) →
    one per-doc agg. No driver-side model object; a higher-order LM
    swaps the count key for an n-gram window without changing the
    shape."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    )
    cnt = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    stats = cnt.agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    vocab = cnt.crossJoin(F.broadcast(stats)).select(
        "_t",
        F.round(
            -F.log2(
                (F.col("_c") + F.lit(float(alpha)))
                / (F.col("_n") + F.lit(float(alpha)) * F.col("_v"))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("_ubits"),
    )
    return (
        toks.join(vocab, on="_t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_ubits").alias("_s"),
        )
        .select(
            id_col,
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.round(
                F.col("_s") / (F.lit(1e6) * F.col("n_tokens")), 6
            ).alias("bits_per_token"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet's corpus split by LM score (head/middle/tail at the
    default 3): rank every document by :func:`unigram_logprob_scores`
    surprisal and ntile into ``n_buckets`` equal-count bands —
    bucket 1 is the most-predictable head (kept, or down-weighted for
    dedup-adjacent boilerplate), the last bucket the high-surprisal
    tail a pipeline drops or routes to heavier cleaning.

    Deterministic: the ntile orders by (bits_per_token, doc_id), so
    ties at the 6-dp score boundary split identically everywhere.
    Scale shape: the scoring passes plus ONE global sort for the
    ntile — the same single-total-order cost any exact quantile split
    pays; swap in percentile_approx bounds + a map-only CASE when an
    approximate split is acceptable."""
    scored = unigram_logprob_scores(
        docs, text_col=text_col, id_col=id_col, alpha=alpha
    )
    w = Window.orderBy(F.col("bits_per_token").asc(), F.col(id_col).asc())
    return scored.select(
        id_col,
        "n_tokens",
        "bits_per_token",
        F.ntile(int(n_buckets)).over(w).alias("ppl_bucket"),
    )


def bigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
) -> DataFrame:
    """The higher-order LM :func:`unigram_logprob_scores` documents —
    Jelinek-Mercer interpolated bigram surprisal:
    ``p(v|u) = λ·c(u,v)/c(u·) + (1−λ)·p_uni(v)`` with the same
    add-``alpha`` unigram base; each document's first token scores at
    the unigram, tokens 2..n at the bigram. Word ORDER now matters —
    a document whose tokens follow corpus-typical sequences scores
    lower than the same token multiset shuffled, the signal a unigram
    model is blind to (pinned in tests).

    Same determinism contract (per-token surprisal → 6 dp → exact
    integer micro-bit sums) and the same relational shape one order
    up: the model is the PAIR-count relation (one extra keyed agg over
    the shifted-slice pair explode — the dedup_ngram_spans window
    trick at n=2), context totals are an agg over it, and scoring is
    a pair-keyed join back. Nothing is collected; a trigram swaps the
    pair key for a triple without changing the shape."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    ts = docs.select(F.col(id_col), tokens(text_col).alias("_ts")).filter(
        F.size("_ts") > 0
    )
    toks = ts.select(F.col(id_col), F.explode("_ts").alias("_t"))
    cnt = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    stats = cnt.agg(F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_v"))
    a = float(alpha)
    vocab = cnt.crossJoin(F.broadcast(stats)).select(
        "_t",
        (
            (F.col("_c") + F.lit(a))
            / (F.col("_n") + F.lit(a) * F.col("_v"))
        ).alias("_p"),
    )
    ub = lambda p: F.round(-F.log2(p) * 1e6).cast("bigint")  # noqa: E731

    # pair explode via the shifted-slice trick: u at 0-based i pairs
    # with ts[i+1]
    pairs = ts.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.slice("_ts", 1, F.size("_ts") - 1),
                lambda u, i: F.struct(
                    u.alias("u"), F.get("_ts", i + 1).alias("v")
                ),
            )
        ).alias("_pr"),
    ).select(F.col(id_col), F.col("_pr.u").alias("_u"), F.col("_pr.v").alias("_v2"))
    pc = pairs.groupBy("_u", "_v2").agg(F.count(F.lit(1)).alias("_cuv"))
    cc = pc.groupBy("_u").agg(F.sum("_cuv").alias("_cu"))
    l = float(lam)
    pair_bits = (
        pairs.join(pc, on=["_u", "_v2"])
        .join(cc, on="_u")
        .join(vocab.select(F.col("_t").alias("_v2"), "_p"), on="_v2")
        .select(
            F.col(id_col),
            ub(
                F.lit(l) * F.col("_cuv") / F.col("_cu")
                + F.lit(1.0 - l) * F.col("_p")
            ).alias("_ub"),
        )
        .groupBy(id_col)
        .agg(F.sum("_ub").alias("_ps"), F.count(F.lit(1)).alias("_pn"))
    )
    first_bits = (
        ts.select(F.col(id_col), F.get("_ts", 0).alias("_t"))
        .join(vocab, on="_t")
        .select(F.col(id_col), ub(F.col("_p")).alias("_fb"))
    )
    return (
        first_bits.join(pair_bits, on=id_col, how="left")
        .select(
            F.col(id_col),
            (F.coalesce(F.col("_pn"), F.lit(0)) + 1)
            .cast("int")
            .alias("n_tokens"),
            F.round(
                (F.col("_fb") + F.coalesce(F.col("_ps"), F.lit(0)))
                / (
                    F.lit(1e6)
                    * (F.coalesce(F.col("_pn"), F.lit(0)) + 1)
                ),
                6,
            ).alias("bits_per_token"),
        )
    )


def source_kl_divergence(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source distribution drift on the TEXT side — the lexical
    analogue of pq.pq_drift_report's embedding-space signal: KL(source
    ‖ corpus) in bits over add-``alpha``-smoothed unigram
    distributions, where a source whose token mix wanders from the
    corpus (a feed gone spammy, a scraper picking up a new template)
    shows a rising KL long before quality gates trip on individual
    documents.

    Smoothing puts every CORPUS token in every source's support
    (q > 0 and p > 0 throughout), so the sum is finite and runs over
    the corpus vocabulary per source. Determinism: each token's
    contribution p·log2(p/q) rounds to 6 dp of micro-bits and sums as
    exact integers — the same convention as the LM scores.

    Scale shape: one (source, token) agg, one token agg, a broadcast
    1-row stats join, and a token-keyed join of the two count
    relations — vocabulary-sized intermediates, nothing collected."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    a = float(alpha)
    toks = docs.select(
        F.col(source_col).alias("_src"), F.explode(tokens(text_col)).alias("_t")
    )
    # corpus distribution q(t)
    cnt = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    stats = cnt.agg(F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_v"))
    # per-source counts over the FULL corpus vocabulary (left join →
    # zero counts smooth to alpha mass)
    sc = toks.groupBy("_src", "_t").agg(F.count(F.lit(1)).alias("_cs"))
    stot = sc.groupBy("_src").agg(F.sum("_cs").alias("_ns"))
    grid = (
        cnt.crossJoin(stot.select("_src", "_ns"))
        .join(sc, on=["_src", "_t"], how="left")
        .crossJoin(F.broadcast(stats.select("_n", "_v")))
    )
    p = (F.coalesce(F.col("_cs"), F.lit(0)) + F.lit(a)) / (
        F.col("_ns") + F.lit(a) * F.col("_v")
    )
    q = (F.col("_c") + F.lit(a)) / (F.col("_n") + F.lit(a) * F.col("_v"))
    term = F.round(p * F.log2(p / q) * 1e6).cast("bigint")
    return (
        grid.select("_src", "_ns", term.alias("_ub"))
        .groupBy(F.col("_src").alias(source_col))
        .agg(
            F.max("_ns").cast("bigint").alias("n_tokens"),
            F.round(F.sum("_ub") / 1e6, 6).alias("kl_bits"),
        )
    )


def perplexity_buckets_approx(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    accuracy: int = 10000,
) -> DataFrame:
    """The scale swap :func:`perplexity_buckets` documents: bucket
    bounds from ``approx_percentile`` (a mergeable sketch — one
    map-side pass, no global sort) broadcast as a 1-row relation, then
    a map-only CASE assigns buckets. At 100 TB the exact ntile's
    single total order is the one unscalable step in the split; this
    variant trades exact equal counts for a fully parallel plan.
    Bucket BOUNDS differ from the exact split only within sketch
    error; tested to agree with the exact ntile on ≥90% of documents
    at the default accuracy."""
    scored = unigram_logprob_scores(
        docs, text_col=text_col, id_col=id_col, alpha=alpha
    )
    nb = int(n_buckets)
    qs = [i / nb for i in range(1, nb)]
    bounds = scored.agg(
        F.percentile_approx(
            "bits_per_token", qs, F.lit(int(accuracy))
        ).alias("_bs")
    )
    out = scored.crossJoin(F.broadcast(bounds))
    bucket = F.lit(1)
    for i in range(nb - 1):
        bucket = bucket + F.when(
            F.col("bits_per_token") > F.get("_bs", i), 1
        ).otherwise(0)
    return out.select(
        id_col, "n_tokens", "bits_per_token", bucket.alias("ppl_bucket")
    )


def compression_ratio_udf():
    """Arrow-batched zlib compression ratio (compressed/raw bytes) —
    the Gopher-era redundancy signal: template spam and repeated
    boilerplate compress far below prose, random noise barely
    compresses at all. There is no JVM Column form of DEFLATE, so this
    is one of the few legitimately-Python operators in the engine —
    an Arrow-batched pandas UDF (never row-at-a-time), stdlib zlib at
    level 6, deterministic."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    return _ratio


def compression_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_ratio: float = 0.3,
    max_ratio: float = 1.1,
) -> DataFrame:
    """Per-document compression-ratio gate: ratio below ``min_ratio``
    flags heavy redundancy (boilerplate/template spam — the
    repetition_stats signal seen through a different lens), above
    ``max_ratio`` flags incompressible noise (binary junk in a text
    column). Map-only; one Arrow pass."""
    r = compression_ratio_udf()(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.round(r, 6).alias("compression_ratio"),
        F.when(r < F.lit(float(min_ratio)), F.lit("too_redundant"))
        .when(r > F.lit(float(max_ratio)), F.lit("incompressible"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    )


# --------------------------------------------------------- linear classifier
# (r7) fastText-style hashed linear quality classifier — the trained-
# classifier lever of the CCNet/Gopher curation stacks (Joulin et al.
# 2016: bag of hashed unigrams+bigrams, linear model, sigmoid), as the
# step past this module's heuristic gates: distill the heuristics (or
# any labeled sample) into ONE map-side scoring expression. The
# feature hash is the engine-portable salted-md5 bucket every split/
# mix operator here uses, so the SCORING path is pure Column
# arithmetic DuckDB replays exactly; training is a bounded seeded
# sample to the driver (the fit_pca_rotation pattern) + a tiny numpy
# logistic regression — nothing corpus-sized ever leaves the executors,
# and the fitted (weights, bias) travel back as plan literals.


def _classifier_features(text_col: str | Column) -> Column:
    """Lowercased unigrams + space-joined bigrams of the whitespace
    tokens — the fastText bag. Zero/one-token docs contribute their
    unigrams only (slice length 0 → empty bigram side)."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    toks = F.transform(tokens(text_col), F.lower)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bi)


def _feature_bucket(feat: Column, n_buckets: int, salt: str) -> Column:
    """Salted-md5 hex-prefix bucket of one feature string — the
    hash_split construction, applied to features instead of ids."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), feat)), 1, 4), 16, 10
        ).cast("int")
        % n_buckets
    )


def _py_features(text: str) -> list[str]:
    toks = [t.lower() for t in (text or "").strip().split()]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_bucket(feat: str, n_buckets: int, salt: str) -> int:
    import hashlib

    return int(hashlib.md5((salt + ":" + feat).encode("utf-8")).hexdigest()[:4], 16) % n_buckets


def classifier_score_expr(
    text_col: str | Column,
    weights: list[float],
    bias: float,
    n_buckets: int | None = None,
    salt: str = "qclf-v1",
) -> Column:
    """Sigmoid linear score over the hashed feature bag as ONE pure
    Column: per feature, one md5 + one array lookup into the
    weight-vector plan literal; mean-pooled (the fastText average),
    plus bias, through the logistic. No joins, no Python — the
    trained model IS an expression, shippable into any scan."""
    n = n_buckets or len(weights)
    w = vector_literal([float(x) for x in weights])
    feats = _classifier_features(text_col)
    # ONE aggregate carrying (sum, count): higher-order functions are
    # CodegenFallback, so codegen subexpression elimination never sees
    # them — a separate F.size(feats) re-ran the whole tokenize +
    # bigram + concat pipeline a second time per row (r14 A/B: 1.87 s
    # → 1.55 s on the sf0.1 corpus scan, bit-identical scores). The
    # running sum folds in the same left-to-right order as before and
    # the count equals size(feats), so z is unchanged to the last ulp.
    acc = F.aggregate(
        feats,
        F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("c")),
        lambda a, f: F.struct(
            (a["s"] + F.element_at(w, _feature_bucket(f, n, salt) + 1)).alias("s"),
            (a["c"] + F.lit(1)).alias("c"),
        ),
    )
    z = F.lit(float(bias)) + acc["s"] / F.greatest(acc["c"], F.lit(1))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_text_py(
    text: str, weights: list[float], bias: float, salt: str = "qclf-v1"
) -> float:
    """Driver-side twin of :func:`classifier_score_expr` (same feature
    bag, same buckets, same mean-pool) — the parity law's other half."""
    import math

    feats = _py_features(text)
    n = len(weights)
    contrib = sum(weights[_py_bucket(f, n, salt)] for f in feats)
    z = bias + contrib / max(len(feats), 1)
    return 1.0 / (1.0 + math.exp(-z))


def train_quality_classifier(
    docs: DataFrame,
    label_col: str | Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    sample: int = 2048,
    seed: int = 42,
    salt: str = "qclf-v1",
    iters: int = 200,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> tuple[list[float], float]:
    """Fit (weights, bias) by logistic regression on a DETERMINISTIC
    seeded sample (rows ranked by salted md5 of their id — the
    fit_pca_rotation draw): featurize the sampled texts driver-side
    with the byte-identical Python twin of the engine's hash, run
    full-batch gradient descent with L2 (zero init, fixed iters —
    bit-reproducible), return plan-literal-sized parameters. The
    classic use: ``label_col`` = the heuristic quality gate's verdict,
    distilling this module's rule stack into one scoring expression;
    any labeled relation works the same."""
    import numpy as np

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    rows = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_t"),
            lab.cast("double").alias("_y"),
        )
        .orderBy(
            F.md5(F.concat(F.lit(f"qclf:{seed}:"), F.col("_id").cast("string"))),
            F.col("_id").asc(),
        )
        .limit(int(sample))
        .collect()
    )
    X = np.zeros((len(rows), n_buckets))
    y = np.array([float(r["_y"]) for r in rows])
    for i, r in enumerate(rows):
        feats = _py_features(r["_t"])
        if not feats:
            continue
        for f in feats:
            X[i, _py_bucket(f, n_buckets, salt)] += 1.0
        X[i] /= len(feats)
    w = np.zeros(n_buckets)
    b = 0.0
    for _ in range(int(iters)):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g / len(rows) + l2 * w)
        b -= lr * float(g.mean())
    return [float(v) for v in w], float(b)


def classifier_agreement_report(
    spark: SparkSession,
    docs: DataFrame,
    label_col: str | Column,
    weights: list[float],
    bias: float,
    text_col: str = "text",
    threshold: float = 0.5,
    salt: str = "qclf-v1",
) -> DataFrame:
    """One-row distillation audit: agreement of the classifier's
    thresholded score with the reference labels over the FULL relation
    (one map-side pass), plus the positive rates of both — the check
    that a distilled gate can replace the rule stack it learned from."""
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    score = classifier_score_expr(text_col, weights, bias, salt=salt)
    pred = score >= F.lit(float(threshold))
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(lab.cast("double")).alias("label_rate"),
        F.avg(pred.cast("double")).alias("pred_rate"),
        F.avg((pred == lab.cast("boolean")).cast("double")).alias("agreement"),
    ).first()
    return spark.createDataFrame(
        [(int(row["n"]), float(row["label_rate"]), float(row["pred_rate"]),
          float(row["agreement"]))],
        "n BIGINT, label_rate DOUBLE, pred_rate DOUBLE, agreement DOUBLE",
    )


def budget_fill(
    df: DataFrame,
    order_col: str,
    cost_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget greedy fill: keep the best documents, in
    ``(order_col DESC, id ASC)`` order, whose cumulative ``cost_col``
    stays within ``budget`` — the selection rule behind "fill a
    10B-token training budget with the highest-quality data first".
    Returns the kept rows with their ``cum_cost``.

    Scale shape (why this is NOT one global window): a cumulative sum
    over a global ORDER BY is a single reduce task at 100 TB. The fill
    instead runs two-level: (1) per-ORDER-VALUE cost totals — one
    keyed map-side-combinable aggregation, output bounded by the
    number of DISTINCT order values (a 6-dp quality score, a small
    integer grade...), (2) the running total over those per-value rows
    — a window over the tiny value relation only, yielding each
    value's budget headroom, broadcast back, (3) values that fit
    entirely are kept with a map-side filter; only the ONE boundary
    value that straddles the budget line needs a per-row window to
    decide WHICH of its rows are kept. Emitting each kept row's
    ``cum_cost`` does, however, pay one more per-row running sum: the
    final projection applies a window partitioned by ``order_col``
    over ALL kept rows (a within-value running sum added to the
    broadcast ``_cum_before`` prefix — per-row cum_cost is not
    derivable without it). Its skew bound is the largest single order
    value's row count, i.e. one hot quality score = one large window
    task; that is the price of the cum_cost OUTPUT column, not of the
    keep/drop decision, and remains far below the single reduce task
    of a global ORDER BY cumsum. Equal, row for
    row, to the naive global-window fill (that equality IS the oracle)
    as long as ties inside an order value break on ``id_col`` —
    ``order_col`` must therefore be the discretized ranking key
    itself (e.g. the ROUNDED quality score), which is also what makes
    the per-value relation bounded."""
    per_val = df.groupBy(order_col).agg(
        F.sum(F.col(cost_col)).cast("bigint").alias("_val_cost")
    )
    w_vals = Window.orderBy(F.col(order_col).desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vals = per_val.select(
        order_col,
        (F.sum("_val_cost").over(w_vals) - F.col("_val_cost")).alias(
            "_cum_before"
        ),
        F.col("_val_cost"),
    )
    full = vals.filter(
        F.col("_cum_before") + F.col("_val_cost") <= F.lit(int(budget))
    ).select(order_col, "_cum_before")
    # <= (not <): a straddling value whose preceding cumulative cost
    # lands EXACTLY on the budget can still contribute zero-cost rows
    # (cum_cost == budget), which the naive global-window fill keeps —
    # the per-row `_cum_before + _run <= budget` filter below admits
    # exactly those. Still disjoint from `full` (which needs
    # _cum_before + _val_cost <= budget, contradicting the > here).
    boundary = (
        vals.filter(
            (F.col("_cum_before") <= F.lit(int(budget)))
            & (F.col("_cum_before") + F.col("_val_cost") > F.lit(int(budget)))
        )
        .select(order_col, "_cum_before")
    )
    kept_full = df.join(F.broadcast(full), order_col).select(
        df["*"], F.col("_cum_before")
    )
    w_rows = Window.partitionBy(order_col).orderBy(F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept_boundary = (
        df.join(F.broadcast(boundary), order_col)
        .withColumn("_run", F.sum(F.col(cost_col)).over(w_rows))
        .filter(F.col("_cum_before") + F.col("_run") <= F.lit(int(budget)))
        .select(df["*"], F.col("_cum_before"))
    )
    # cum_cost of each kept row = value headroom start + running sum
    # within the value (recomputed for the full values too, so the
    # output column is uniform)
    out = kept_full.unionByName(kept_boundary.drop("_run"), allowMissingColumns=True)
    return (
        out.withColumn("_run", F.sum(F.col(cost_col)).over(w_rows))
        .select(
            *df.columns,
            (F.col("_cum_before") + F.col("_run"))
            .cast("bigint")
            .alias("cum_cost"),
        )
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "psample-v1",
) -> DataFrame:
    """Weighted sampling without replacement, deterministically — the
    Efraimidis–Spirakis A-ES scheme (Inf. Process. Lett. 97(5), 2006):
    each row draws a uniform u and takes priority u^(1/w); the top-k
    priorities ARE a weight-proportional sample without replacement.
    Here u is a pinned md5-uniform of the row id (no RNG — the repo's
    pinned-determinization pattern): 13 hex digits = 52 bits, so the
    integer is exactly representable in a double in BOTH engines, and
    u = (v + 0.5) / 2^52 lies strictly inside (0, 1). Rows with
    non-positive weight are excluded (they can never be sampled).
    Returns the k sampled rows with their raw priority.

    Laws (tested): scaling ALL weights by a constant c > 0 leaves the
    selected set unchanged (u^(1/(cw)) is a monotone transform of
    u^(1/w)); with equal weights the sample degrades to pure hash
    order.

    Determinism seam: u is bit-pinned, but ``pow`` is the ONE
    non-pinned op in the chain — JVM Math.pow guarantees ≤1 ulp (not
    correctly rounded) while DuckDB/libm pow is correctly rounded, so
    a priority landing within an ulp of a 6-dp display boundary, or
    two priorities within an ulp of each other exactly at the top-k
    cut, can in principle diverge across engines (log-priority
    ln(u)/w would be a monotone replacement but log carries the same
    ulp class — no free fix). Never observed across the testdata SFs;
    accepted and documented rather than papered over.

    Scale shape: per-row map work (md5 + pow) and ONE top-k cut —
    TakeOrderedAndProject, a per-partition heap then a k-row merge at
    the driver side of the exchange; no global sort, no full shuffle
    of the corpus. This is the corpus-subsampling primitive ("sample
    50k docs proportional to quality") that replaces ORDER BY
    rand()-style anti-patterns at 100 TB."""
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(2**52))
    w = F.col(weight_col).cast("double")
    pri = F.pow(u, F.lit(1.0) / w)
    return (
        df.filter(w > 0)
        .withColumn("priority", pri)
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def priority_sample_per_group(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    seed: str = "psample-v1",
) -> DataFrame:
    """Per-group weighted sampling without replacement — the
    per-domain form of :func:`priority_sample` ("sample k docs per
    SOURCE proportional to quality"): the same pinned A-ES priority,
    cut to the top-k WITHIN each group by one ranking window.

    Scale shape: per-row map work + ONE window partitioned by the
    group — Spark plans the rank<=k cut as a Partial WindowGroupLimit
    below the exchange, so each map task pre-trims to k rows per group
    it sees and the shuffle carries at most tasks×groups×k rows, never
    the corpus. Same laws as the global form per group (weight-scaling
    invariance; deterministic across runs), and the same documented
    pow ulp seam (see :func:`priority_sample`)."""
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(2**52))
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(group_col).orderBy(
        F.pow(u, F.lit(1.0) / w).desc(), F.col(id_col).asc()
    )
    return (
        df.filter(w > 0)
        .withColumn("priority", F.pow(u, F.lit(1.0) / w))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= int(k))
    )


def pmi_collocations(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 5,
    top: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation mining by pointwise mutual information — the classic
    corpus-analysis readout ("which token pairs co-occur far more than
    chance?") behind phrase induction and tokenizer-merge candidates:
    ORDERED pairs (a before b, gap ≤ ``window``) are counted, and
    PMI = ln((n_ab / n_pairs) / ((tf_a / n_toks) · (tf_b / n_toks))).
    Every input to the formula is an EXACT integer count (pair count,
    term occurrence counts, corpus totals), so the PMI double is one
    fixed expression both engines evaluate identically (the hourly-
    anomaly convention). Returns the ``top`` pairs with n_ab ≥
    ``min_count`` by (pmi desc, a, b).

    Scale shape: positions explode map-side; the pair relation is a
    doc-keyed self-join with the position band (each token pairs with
    at most ``window`` successors — linear in corpus × window, never
    quadratic); pair counts and term counts are map-side-combinable
    aggregates bounded by observed vocab² and vocab; the two 1-row
    totals broadcast."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    per = docs.select(
        F.col(id_col).alias("_d"),
        F.posexplode(tokens(F.col(text_col))).alias("_p", "_t"),
    )
    right = per.select(
        F.col("_d"), F.col("_p").alias("_pb"), F.col("_t").alias("b")
    )
    pairs = (
        per.join(right, "_d")
        .filter(
            (F.col("_pb") > F.col("_p"))
            & (F.col("_pb") - F.col("_p") <= int(window))
        )
        .groupBy(F.col("_t").alias("a"), "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    tf = per.groupBy(F.col("_t").alias("term")).agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    totals = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_toks"))
    pair_total = pairs.agg(F.sum("n_ab").alias("n_pairs"))
    tf_a = tf.select(F.col("term").alias("a"), F.col("tf").alias("tf_a"))
    tf_b = tf.select(F.col("term").alias("b"), F.col("tf").alias("tf_b"))
    pmi = F.log(
        (F.col("n_ab") / F.col("n_pairs"))
        / ((F.col("tf_a") / F.col("n_toks")) * (F.col("tf_b") / F.col("n_toks")))
    )
    return (
        pairs.filter(F.col("n_ab") >= int(min_count))
        .join(tf_a, "a")
        .join(tf_b, "b")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(pair_total))
        .select(
            "a", "b", "n_ab", "tf_a", "tf_b",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(int(top))
    )


def rank_ensemble(
    df: DataFrame,
    signals: list[tuple[str, float]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-signal ENSEMBLE by rank averaging — the standard way to
    blend incommensurable curation signals (length, lexical diversity,
    perplexity, classifier score) without normalizing their scales:
    each signal becomes its percent_rank (higher value = higher rank;
    the id breaks ties so the rank is a total order both engines
    replay identically), and the ensemble is the weighted mean of the
    percent ranks. Adds ``ensemble`` (rounded to 6 dp). Weights should
    be exact decimals (they become plan literals in both engines).

    Scale shape: one global window per signal — and a partitionBy-less
    Window is NOT a parallel range-partitioned sort: Spark plans it as
    ``Exchange SinglePartition`` + one sort, i.e. every row flows
    through ONE task per signal (a global ``orderBy`` would
    range-partition, but percent_rank needs the whole order in one
    partition to know n). Tolerable only because the input is the
    per-DOCUMENT signal relation (already aggregated), never raw data.
    At 100 TB with trillions of docs even that single task breaks —
    use :func:`rank_ensemble_approx`, which replaces each exact
    percent_rank with an approx-quantile bucket position (a mergeable
    sketch + a map-only probe, no single-task stage) and agrees with
    the exact blend to within the bucket width."""
    acc = None
    for name, weight in signals:
        w = Window.orderBy(F.col(name).desc(), F.col(id_col).asc())
        pr = F.percent_rank().over(w)
        # percent_rank ASCENDS with rank position; rank 1 (the best
        # value under desc order) gets 0.0 — invert so better = higher
        term = F.lit(float(weight)) * (F.lit(1.0) - pr)
        acc = term if acc is None else acc + term
    return df.withColumn("ensemble", F.round(acc, 6))


def rank_ensemble_approx(
    df: DataFrame,
    signals: list[tuple[str, float]],
    n_buckets: int = 100,
    accuracy: int = 10000,
) -> DataFrame:
    """The scale swap :func:`rank_ensemble` documents — the
    perplexity_buckets_approx pattern applied to rank blending. Each
    signal's exact percent_rank (an Exchange-SinglePartition global
    window) is replaced by its approximate quantile POSITION: the
    ``n_buckets``-1 interior quantile bounds come from ONE
    ``approx_percentile`` aggregate per signal (a mergeable sketch —
    map-side partials, a 1-row reduce), broadcast as a 1-row relation,
    and each row's score is (#bounds strictly below its value) /
    (n_buckets - 1) — a map-only array probe. The blend formula over
    the positions is unchanged; ``ensemble`` is rounded to 6 dp.

    No stage sees more than a sketch per task: the plan is two map
    passes over the signal relation with a broadcast in between — no
    Window, no single-task sort (plan-asserted in
    tests/test_analytics.py). Agreement law (also tested): positions
    differ from exact inverted percent_ranks only by bucket
    quantization + sketch error, so the two ensembles agree within
    ~1/n_buckets per unit weight on ≥90% of rows at the defaults.

    Orientation note: rank_ensemble ranks each signal DESC and
    inverts, so its score is the fraction of rows strictly below —
    exactly the ascending quantile position this twin estimates."""
    qs = [i / int(n_buckets) for i in range(1, int(n_buckets))]
    bounds = df.agg(
        *[
            F.percentile_approx(name, qs, F.lit(int(accuracy))).alias(
                f"_bs_{name}"
            )
            for name, _ in signals
        ]
    )
    out = df.crossJoin(F.broadcast(bounds))
    denom = F.lit(float(int(n_buckets) - 1))
    acc = None
    for name, weight in signals:
        pos = F.size(
            F.filter(F.col(f"_bs_{name}"), lambda b: b < F.col(name))
        )
        term = F.lit(float(weight)) * (pos / denom)
        acc = term if acc is None else acc + term
    return out.select(*df.columns, F.round(acc, 6).alias("ensemble"))


def sample_mixture(
    df: DataFrame,
    group_col: str,
    budget: int,
    id_col: str = "doc_id",
    seed: str = "rebal-v1",
) -> DataFrame:
    """Domain-mixture REBALANCING: downsample each group (language,
    source, domain) toward a UNIFORM target mixture of ~``budget`` rows
    total — the curation step that rebalances a web-scale corpus whose
    raw group sizes are wildly skewed before training. Complements
    ``mix_corpus`` (explicit per-source rates, incl. >1 upsampling):
    here the rates are DERIVED from the observed group sizes, the
    "hit this mixture under this budget" form. Each group g
    with n_g rows gets keep-rate r_g = min(1, (budget/k)/n_g) (k =
    number of observed groups), and a row survives iff its pinned
    md5-uniform u < r_g — no RNG, so the SAME rows are kept on every
    run and in every engine (the repo's pinned-determinization
    pattern; u is 13 md5 hex digits = 52 bits, exactly representable
    in a double). Groups smaller than the per-group target keep
    everything (rate capped at 1 — undersupplied domains cannot be
    upsampled without replication, which this operator does not do).
    Adds ``keep_rate`` (the group's rate) to the surviving rows.

    Engine-portability: r_g is ONE double expression of exact integers
    (budget, k, n_g) written identically in the oracle, and u is
    bit-exact, so the keep decision is reproducible; the only seam
    would be a rate landing exactly ON a representable u, which the
    +0.5/2^52 offset construction makes a measure-zero ulp event (same
    acceptance class as priority_sample's pow seam).

    Scale shape: one map-combinable groupBy count (output bounded by
    the number of groups), the tiny rate relation broadcast back onto
    the corpus, then a map-side filter — the corpus itself never
    shuffles. This is the mixture-rebalancing primitive that replaces
    driver-side stratified collect loops at 100 TB."""
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_g")
    )
    k = counts.agg(F.count(F.lit(1)).cast("bigint").alias("_k"))
    rates = counts.crossJoin(F.broadcast(k)).select(
        group_col,
        F.least(
            F.lit(1.0),
            (F.lit(int(budget)) / (F.lit(1.0) * F.col("_k")))
            / F.col("_n_g"),
        ).alias("keep_rate"),
    )
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(2**52))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("keep_rate"))
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    budget: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "temp-v1",
) -> DataFrame:
    """TEMPERATURE-scaled mixture sampling — the multilingual-training
    mixing rule (mT5/XLM-R style): group g gets target probability
    p_g = n_g^α / Σ_h n_h^α, interpolating between proportional
    sampling (α=1, big groups dominate) and uniform (α=0,
    :func:`sample_mixture`'s target); keep-rate
    r_g = min(1, budget·p_g / n_g) and a row survives iff its pinned
    52-bit md5-uniform u < r_g — the same no-RNG determinization as
    sample_mixture, so both engines keep the SAME rows. Adds
    ``keep_rate`` (rounded 6 dp on output by callers).

    Engine-portability: n_g^α is one ``pow`` of exact integers
    (α=0.5 is IEEE sqrt, correctly rounded — bit-identical across
    engines); the Σ over groups is a sum of a handful of doubles
    whose order could differ at the last ulp, so a u landing within
    an ulp of r_g is the only seam — the same measure-zero acceptance
    class as priority_sample's pow.

    Scale shape: identical to sample_mixture — one map-combinable
    group count, the tiny weight/rate relation broadcast back, a
    map-side filter; the corpus never shuffles."""
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_g")
    )
    w = F.pow(F.col("_n_g").cast("double"), F.lit(float(alpha)))
    tot = counts.agg(
        F.sum(F.pow(F.col("_n_g").cast("double"), F.lit(float(alpha)))).alias(
            "_tot"
        )
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(int(budget)) * (w / F.col("_tot")) / F.col("_n_g"),
        ).alias("keep_rate"),
    )
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(2**52))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("keep_rate"))
    )


def embedding_diversity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> DataFrame:
    """Per-group embedding DIVERSITY — the mean pairwise squared L2
    distance between all ordered pairs of vectors in a group — in ONE
    linear pass, via the moment identity
    Σ_{i≠j} ||v_i − v_j||² = 2n·Σ_i ||v_i||² − 2·||Σ_i v_i||².
    The naive form is an n² self-join per group; this needs only each
    group's vector SUM and norm-square sum, so it scales to groups of
    billions of vectors (the curation readout for "is this domain's
    embedding cloud collapsing?" — low diversity flags near-duplicate
    or template-generated content a dedup pass should visit).

    Engine-portability: components quantize to an integer grid
    (round(x·scale) — float32 parquet values widen to double exactly,
    so the rounding is identical in both engines) and every moment is
    an exact bigint sum; the displayed mean divides back by scale²
    once, in one fixed double expression. Overflow bound: with
    |x| ≤ 1, d dims and grid s, 2n²·d·s² must stay below 2⁶³ —
    d=64, s=10⁴ leaves room for n ≈ 8·10⁵ per group; past that, raise
    the grid coarser or move the two moments to DECIMAL(38,0).

    Scale shape: one posexplode (map-side, ×d) feeding a (group, dim)
    sum — map-combinable, output bounded by groups·d — plus a per-row
    HOF norm reduced per group; both tiny relations join broadcast.
    No pairwise anything."""
    # widen float32 → double BEFORE the grid multiply: the widening is
    # exact and the double product is correctly rounded, so both
    # engines quantize identically (a float32-precision multiply could
    # round a borderline .5 differently from a double one)
    q = lambda x: F.round(x.cast("double") * scale).cast("bigint")  # noqa: E731
    norm = F.aggregate(
        F.transform(F.col(vec_col), lambda x: q(x) * q(x)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per_group = df.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(norm).alias("sum_norm"),
    )
    dims = df.select(
        label_col, F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    cross = (
        dims.groupBy(label_col, "pos")
        .agg(F.sum(q(F.col("x"))).alias("s"))
        .groupBy(label_col)
        .agg(F.sum(F.col("s") * F.col("s")).alias("sum_sq_sums"))
    )
    pair_sum = (
        F.lit(2) * F.col("n") * F.col("sum_norm")
        - F.lit(2) * F.col("sum_sq_sums")
    )
    mean = (
        pair_sum
        / (F.lit(1.0) * F.col("n") * (F.col("n") - F.lit(1)))
        / F.lit(float(scale * scale))
    )
    return (
        per_group.join(F.broadcast(cross), label_col)
        .select(
            label_col,
            "n",
            F.round(mean, 6).alias("mean_pairwise_l2sq"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Corpus NOVELTY curve by group: the fraction of each document's
    distinct word n-grams seen for the FIRST time (no earlier doc id
    carries the shingle), aggregated per group — the curation readout
    for "how much genuinely new text does each language/source
    contribute?" (a near-zero novelty tail is scraped boilerplate the
    span-dedup pass should visit; the id order stands in for arrival
    order, same convention as the incremental-dedup ops). Counts are
    exact bigints; the mean novelty is one rounded division.

    Scale shape: documents explode to distinct (doc, shingle) pairs
    (map-side ×tokens, then a map-combinable distinct); the
    first-occurrence relation is a groupBy-min on the shingle (the
    same hash family every dedup signal shuffles on — and the same
    hot-hash exposure: a boilerplate shingle in 10⁸ docs lands on one
    reducer ONLY as a count, since min() combines map-side); the
    join back is shingle-keyed. Everything is linear in total
    shingles; nothing pairwise."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens

    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.col(group_col).alias("_grp"),
        tokens(text_col).alias("_t"),
    ).filter(F.size("_t") >= n)
    sh = toks.select(
        "_doc",
        "_grp",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("_t"), i, n), " "),
            )
        ).alias("_s"),
    ).distinct()
    first = sh.groupBy("_s").agg(F.min("_doc").alias("_first"))
    per_doc = (
        sh.join(first, "_s")
        .groupBy("_doc", "_grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n_sh"),
            F.sum(
                F.when(F.col("_first") == F.col("_doc"), 1).otherwise(0)
            ).cast("bigint").alias("_n_novel"),
        )
    )
    return (
        per_doc.groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n_sh").cast("bigint").alias("n_shingles"),
            F.sum("_n_novel").cast("bigint").alias("n_novel"),
            F.round(
                F.sum("_n_novel") / (F.lit(1.0) * F.sum("_n_sh")), 6
            ).alias("novelty"),
        )
        .orderBy(group_col)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    id_col: str,
    budget: int = 1000,
    seed: str = "neyman-v1",
) -> DataFrame:
    """Neyman (variance-optimal) stratified sampling: stratum h gets
    allocation proportional to N_h·S_h — big AND internally diverse
    strata get more budget than big-but-uniform ones (the
    survey-sampling optimum; uniform-rate sampling wastes budget on
    homogeneous strata). Inputs must carry an exact integer
    ``value_col``. Per stratum, N_h and the population-variance
    moments are exact DECIMAL(38,0) sums (S_h = sqrt(N·m2 − m1²)/N);
    the weight denominator Σ N_h·S_h accumulates via the ORDERED
    cumulative window over the stratum grain (nonneg terms — the
    entropy-row pattern), allocations floor(budget·w_h) (remainders
    deliberately unallocated — documented, deterministic), and every
    keep decision is the pinned 52-bit md5 uniform u < alloc/N_h that
    DuckDB replays. Returns one row per stratum: stratum, n_h, sd,
    alloc, n_kept.

    Scale shape: one map-combinable moment rollup over the input; the
    window runs over the stratum grain; the keep filter is one
    map-side pass (rates broadcast)."""
    v = F.col(value_col).cast("decimal(19,0)")
    m = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(v).cast("decimal(38,0)").alias("m1"),
        F.sum((v * v).cast("decimal(38,0)")).alias("m2"),
    )
    sd = (
        F.sqrt(
            (F.col("n_h") * F.col("m2") - F.col("m1") * F.col("m1"))
            .cast("double")
        )
        / F.col("n_h")
    )
    w_cum = Window.orderBy(stratum_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = m.select(
        stratum_col, "n_h", sd.alias("sd"),
        (F.col("n_h") * sd).alias("_ns"),
    )
    cum = scored.select(
        stratum_col, "n_h", "sd", "_ns",
        F.sum("_ns").over(w_cum).alias("_cum"),
    )
    tot = cum.agg(
        F.max("_cum").alias("_tot"),
        F.sum("n_h").cast("bigint").alias("_ntot"),
    )
    alloc = cum.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        "n_h",
        "sd",
        # degenerate corpus (every stratum zero-variance => _tot = 0):
        # Neyman weights are 0/0-undefined, so fall back to the
        # allocation proportional to stratum size — the limit of the
        # Neyman rule as all sd_h tend to a common value
        F.when(
            F.col("_tot") > 0,
            F.floor(F.lit(int(budget)) * F.col("_ns") / F.col("_tot")),
        )
        .otherwise(
            F.floor(F.lit(int(budget)) * F.col("n_h") / F.col("_ntot"))
        )
        .cast("bigint")
        .alias("alloc"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed + ":"), F.col(id_col).cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**52))
    kept = (
        df.join(F.broadcast(alloc), stratum_col)
        .filter(u < F.col("alloc") / (F.lit(1.0) * F.col("n_h")))
        .groupBy(stratum_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        alloc.join(F.broadcast(kept), stratum_col, "left")
        .select(
            stratum_col,
            "n_h",
            "sd",
            "alloc",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def rake_keywords(
    docs: DataFrame,
    stopwords: tuple[str, ...],
    max_phrase_len: int = 4,
    top: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — candidate phrases
    are maximal stopword-free token runs (run ids from a cumulative
    stopword count per document — one doc-partitioned window over the
    token grain), scored by sum over member words of
    degree(w)/freq(w), where freq counts phrase occurrences
    containing w and degree additionally credits co-occurring words
    (the sum of phrase lengths over w's phrases) — so multi-word
    technical phrases outrank single frequent words. Determinism:
    freq/degree are exact integer aggregates over the exploded
    phrase-word grain; the per-phrase score sums word ratios via the
    ORDERED cumulative window over the phrase's word positions (the
    house double-sum trick), and the final cut orders by (score desc,
    phrase) — a total order. Phrases longer than ``max_phrase_len``
    are dropped (boilerplate runs, not keywords). Returns ``top``
    rows: phrase, n_occurrences, n_words, score (raw double).

    Scale shape: one token explode (the corpus's one shuffle, keyed
    by doc for the run-id window), one map-combinable phrase count,
    word stats on the phrase-word grain (vocabulary-bounded), and the
    score window over <= max_phrase_len rows per distinct phrase."""
    from ydb_vector_search_demo_spark.functions.textstats import (
        tokens as _tokens,
    )

    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(
            F.transform(_tokens(text_col), lambda t: F.lower(t))
        ).alias("_pos", "_tok"),
    )
    is_stop = F.col("_tok").isin(list(stopwords))
    w_run = (
        Window.partitionBy("_doc")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = toks.select(
        "_doc",
        "_pos",
        "_tok",
        is_stop.alias("_st"),
        F.sum(is_stop.cast("int")).over(w_run).alias("_rid"),
    ).filter(~F.col("_st"))
    phrases = (
        runs.groupBy("_doc", "_rid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_tok"))
                    ),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("int").alias("n_words"),
        )
        .filter(F.col("n_words") <= int(max_phrase_len))
    )
    occ = phrases.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    ).localCheckpoint(eager=True)
    pw = occ.select(
        "phrase",
        "n_occurrences",
        "n_words",
        F.posexplode(F.split("phrase", " ")).alias("_i", "_w"),
    )
    stats = pw.groupBy("_w").agg(
        F.sum("n_occurrences").cast("bigint").alias("_freq"),
        F.sum(F.col("n_occurrences") * F.col("n_words"))
        .cast("bigint")
        .alias("_degree"),
    )
    w_cum = (
        Window.partitionBy("phrase")
        .orderBy("_i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        pw.join(F.broadcast(stats), "_w")
        .select(
            "phrase",
            "n_occurrences",
            "n_words",
            "_i",
            F.sum(
                F.col("_degree").cast("double") / F.col("_freq")
            )
            .over(w_cum)
            .alias("_cum"),
        )
        .groupBy("phrase", "n_occurrences", "n_words")
        .agg(F.max("_cum").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), "phrase")
        .limit(int(top))
        .select("phrase", "n_occurrences", "n_words", "score")
    )


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """The tokenizer trainers' shared word-frequency grain: ONE corpus
    shuffle to (w, n_w), checkpointed — every BPE/WordPiece step after
    runs vocab-bounded (r14 review: this scaffold existed in three
    verbatim copies; keep it in one place)."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    return (
        fan_out(docs)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
        .localCheckpoint(eager=True)
    )


# adjacent-symbol pair extraction shared by every trainer step (the
# zip_with/slice seam — one spelling, one place to fix)
_ADJ_PAIRS_EXPR = (
    "zip_with(slice(syms, 1, size(syms)-1),"
    " slice(syms, 2, size(syms)-1),"
    " (l, r) -> named_struct('lhs', l, 'rhs', r))"
)


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over a (n_w, syms)
    symbol table — one map-combinable aggregation on the vocab grain."""
    return (
        syms.select("n_w", F.explode(F.expr(_ADJ_PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("n_w").cast("bigint").alias("pair_count"))
    )


def bpe_merge_steps(
    docs: DataFrame, steps: int = 4, text_col: str = "text"
) -> DataFrame:
    """BPE TOKENIZER TRAINING, the first ``steps`` merges (Sennrich et
    al. 2016) — the missing member of the corpus-preparation family:
    every LLM pipeline trains a subword vocabulary before anything
    else, and the training loop is exactly this: count adjacent
    symbol pairs (weighted by word frequency), merge the most
    frequent pair everywhere, repeat. Spark-first shape: the CORPUS
    shuffles exactly once (the word-frequency rollup — how
    SentencePiece/HF train too: from the word table, never the raw
    text); every step after runs on the VOCAB grain — one
    map-combinable pair count, a 1-row top-1 broadcast, and one
    map-side fold that applies the merge. No collect: the winning
    pair stays a DataFrame and joins back in as a broadcast literal.

    Exactness: pair counts are exact bigints; the winner per step is
    the total order (count desc, lhs, rhs); merge application is the
    leftmost-greedy non-overlapping scan, expressed as a fold with a
    (out, prev) string accumulator — prev==lhs and cur==rhs emits the
    merged symbol and clears prev, so 'a a a a' + (a,a) yields
    [aa, aa] and 'a a a' yields [aa, a], the reference semantics.
    DuckDB replays the identical fold via list_reduce, so every step
    is bit-replayable. Symbols never contain spaces (whitespace
    tokens), so the space-joined accumulator is unambiguous.

    Scale: vocab is sublinear in corpus size; per-step work is
    vocab-bounded. ``steps`` unrolls the plan (the
    pagerank_integer convention), with the word grain checkpointed
    once and each step's symbol table checkpointed to keep the plan
    linear in steps. Returns one row per step: (step, lhs, rhs,
    pair_count, merged)."""
    wc = _word_counts(docs, text_col)
    # char lattice: split at every inner boundary — "(?!^)" alone
    # would also match the end-of-string zero-width position (Spark's
    # split keeps trailing empties at limit=-1), so require a
    # following char
    syms = wc.select(
        "w", "n_w", F.split("w", r"(?!^)(?=.)").alias("syms")
    )
    # the per-step winner is ONE row: it stays an eagerly-checkpointed
    # relation for the readout (re-entering collected values through
    # createDataFrame measured +0.3 s at the final collect), and its
    # row is read off the materialized checkpoint to enter the merge
    # fold as LITERALS — dropping the per-step broadcast-crossJoin
    # exchange (guide §5; r15, measured 0.16 → 0.10 s per apply)
    outs: list[DataFrame] = []
    for t in range(1, int(steps) + 1):
        top1 = (
            _pair_counts(syms)
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        outs.append(
            top1.select(
                F.lit(t).alias("step"),
                "lhs",
                "rhs",
                "pair_count",
                F.concat("lhs", "rhs").alias("merged"),
            )
        )
        if t < int(steps):
            top = top1.collect()
            if not top:
                # no adjacent pairs left: every later step is empty
                # (the checkpointed empties keep the readout shape)
                continue
            r = top[0]
            syms = _bpe_apply_merge(
                syms, r["lhs"], r["rhs"], r["lhs"] + r["rhs"]
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _bpe_apply_merge(
    syms: DataFrame, lhs: str, rhs: str, merged: str
) -> DataFrame:
    """Apply one merge — the collected winning (lhs, rhs, merged)
    strings entering as literals — to the word symbol table via the
    leftmost-greedy (out, prev) fold, the exact fold DuckDB's
    list_reduce replays (see bpe_merge_steps). ``merged`` is the plain
    concatenation for BPE and lhs + rhs-without-## for WordPiece.
    Literal entry (r15) replaces the earlier broadcast 1-row
    crossJoin: one fewer exchange per trainer step, identical fold."""
    L, R, M = F.lit(lhs), F.lit(rhs), F.lit(merged)
    init = F.struct(
        F.lit("").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def _merge(acc: Column, x: Column) -> Column:
        emit_merged = F.struct(
            F.concat(acc["out"], F.lit(" "), M).alias("out"),
            F.lit(None).cast("string").alias("prev"),
        )
        shift = F.struct(
            F.concat(acc["out"], F.lit(" "), acc["prev"]).alias("out"),
            x.alias("prev"),
        )
        start = F.struct(acc["out"].alias("out"), x.alias("prev"))
        return (
            F.when(acc["prev"].isNull(), start)
            .when((acc["prev"] == L) & (x == R), emit_merged)
            .otherwise(shift)
        )

    def _finish(acc: Column) -> Column:
        flushed = F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.lit(" "), acc["prev"])
        )
        return F.split(F.ltrim(flushed), " ")

    return syms.select(
        "w",
        "n_w",
        F.aggregate("syms", init, _merge, _finish).alias("syms"),
    ).localCheckpoint(eager=True)


def bpe_train_segment(
    docs: DataFrame, steps: int = 4, text_col: str = "text"
) -> DataFrame:
    """Train ``steps`` BPE merges (identical math to
    :func:`bpe_merge_steps`) and return the word-grain SEGMENTATION
    under them — (w, n_w, syms) with every learned merge applied, the
    artifact a tokenizer consumer reads (apply-side of the
    train/apply split; the readout rows derive fertility and
    vocabulary stats from it). Same scale shape as training: one
    corpus shuffle into the word grain, then vocab-bounded steps."""
    wc = _word_counts(docs, text_col)
    syms = wc.select(
        "w", "n_w", F.split("w", r"(?!^)(?=.)").alias("syms")
    )
    for _ in range(int(steps)):
        top = (
            _pair_counts(syms)
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            # parity with the earlier broadcast-crossJoin shape, where
            # an empty winner emptied the symbol table
            return syms.limit(0)
        r = top[0]
        syms = _bpe_apply_merge(
            syms, r["lhs"], r["rhs"], r["lhs"] + r["rhs"]
        )
    return syms


def _wordpiece_syms(wc: DataFrame) -> DataFrame:
    """The '##'-prefixed char-lattice symbol table over the word grain,
    checkpointed once: the prefixing transform is a CodegenFallback
    HOF, and explode consumers would re-evaluate it per OUTPUT symbol
    row (the Generate re-eval pathology) — and the trainer's step 1 and
    the apply side's alphabet both need exactly this relation (r15:
    previously each built its own checkpoint of the same transform)."""
    return wc.select(
        "w",
        "n_w",
        F.transform(
            F.split("w", r"(?!^)(?=.)"),
            lambda c, i: F.when(i == 0, c).otherwise(
                F.concat(F.lit("##"), c)
            ),
        ).alias("syms"),
    ).localCheckpoint(eager=True)


def wordpiece_merge_steps(
    docs: DataFrame, steps: int = 4, text_col: str = "text",
    _wc: DataFrame | None = None, _syms: DataFrame | None = None,
) -> DataFrame:
    """WordPiece TOKENIZER TRAINING, the first ``steps`` merges
    (Schuster & Nakajima 2012; the BERT tokenizer's trainer) — the
    LIKELIHOOD-criterion sibling of :func:`bpe_merge_steps`: where BPE
    merges the most FREQUENT adjacent pair, WordPiece merges the pair
    maximizing the training-corpus likelihood gain of a unigram LM
    over the current symbols, score(l, r) = count(l,r) /
    (count(l)·count(r)) — frequent pairs of already-frequent symbols
    (e.g. 'e'+'s') lose to pairs whose parts rarely occur apart,
    which is why WordPiece vocabularies pick up morphemes earlier
    than BPE's. Symbols carry the '##' continuation prefix ('hello' →
    [h, ##e, ##l, ##l, ##o]); a merge concatenates lhs with rhs
    minus its '##', keeping lhs's own prefix status — the HF/BERT
    convention.

    Spark-first shape — identical skeleton to BPE training: ONE
    corpus shuffle into the word-frequency grain, then per step one
    map-combinable pair count + one map-combinable unary symbol count
    (both vocab-bounded), two broadcast joins attaching the unary
    counts to the pairs, a 1-row top-1 broadcast, and the shared
    leftmost-greedy (out, prev) merge fold (:func:`_bpe_apply_merge`
    with the WordPiece ``merged`` spelling).

    Exactness: all counts exact bigints; the score is ONE
    correctly-rounded IEEE division pair_count / double(lc·rc) of
    exactly-representable integers (bit-identical cross-engine while
    counts stay under 2^53 and lc·rc under 2^63 — true at every
    graded SF; the 100 TB path compares DECIMAL(38,0)
    cross-products pair1·l2·r2 vs pair2·l1·r1 instead, same argmax);
    ties break on the (pair_count desc, lhs, rhs) total order.
    Returns one row per step: (step, lhs, rhs, pair_count, lhs_count,
    rhs_count, score, merged)."""
    wc = _wc if _wc is not None else _word_counts(docs, text_col)
    # checkpointed (:func:`_wordpiece_syms`): step 1's two explode
    # consumers (unary counts, pair counts) would otherwise re-evaluate
    # the CodegenFallback prefixing transform per OUTPUT symbol row;
    # steps 2+ already read the checkpointed _bpe_apply_merge output.
    # ``_syms`` lets the apply side share ONE materialization.
    syms = _syms if _syms is not None else _wordpiece_syms(wc)
    outs: list[DataFrame] = []
    for t in range(1, int(steps) + 1):
        unary = (
            syms.select("n_w", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("n_w").cast("bigint").alias("cnt"))
        )
        pairs = _pair_counts(syms)
        scored = (
            pairs.join(
                F.broadcast(unary.select(F.col("s").alias("lhs"),
                                         F.col("cnt").alias("lhs_count"))),
                "lhs",
            )
            .join(
                F.broadcast(unary.select(F.col("s").alias("rhs"),
                                         F.col("cnt").alias("rhs_count"))),
                "rhs",
            )
            .withColumn(
                "score",
                F.col("pair_count")
                / (F.col("lhs_count") * F.col("rhs_count")).cast("double"),
            )
        )
        # the winner stays a checkpointed 1-row relation for the
        # readout (createDataFrame re-entry measured +0.3 s at the
        # final collect); its row is read off the checkpoint so the
        # merge fold takes LITERALS instead of a broadcast crossJoin
        # (guide §5; r15, 0.16 → 0.10 s per apply)
        top1 = (
            scored.orderBy(
                F.desc("score"), F.desc("pair_count"), "lhs", "rhs"
            )
            .limit(1)
            .withColumn(
                "merged",
                F.concat(
                    "lhs", F.regexp_replace("rhs", r"^##", "")
                ),
            )
            .localCheckpoint(eager=True)
        )
        outs.append(
            top1.select(
                F.lit(t).alias("step"),
                "lhs",
                "rhs",
                "pair_count",
                "lhs_count",
                "rhs_count",
                F.round("score", 6).alias("score"),
                "merged",
            )
        )
        if t < int(steps):
            top = top1.collect()
            if top:
                r = top[0]
                syms = _bpe_apply_merge(
                    syms, r["lhs"], r["rhs"], r["merged"]
                )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def wordpiece_apply_fertility(
    docs: DataFrame,
    steps: int = 4,
    max_piece_len: int = 8,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """WordPiece tokenizer APPLY + per-language FERTILITY — the apply
    side of the WordPiece train/apply split, completing the
    inference-algorithm triple next to the BPE merge-fold apply
    (corpus_bpe_fertility) and the unigram-LM Viterbi segmenter: at
    inference BERT's tokenizer does NOT replay merges — it greedily
    takes the LONGEST vocabulary prefix at each position (MaxMatch;
    Schuster & Nakajima 2012 §3, the HF WordPiece runtime), head
    tokens at position 1, '##'-continuations after, whole word →
    [UNK] on any dead end. Greedy-longest and merge-fold can segment
    the same word differently, which is why the apply algorithm needs
    its own graded surface.

    Vocabulary = the corpus alphabet in trainer symbol form (first
    char plain, rest '##'-prefixed) ∪ the ``steps`` trained merges
    (:func:`wordpiece_merge_steps`). MaxMatch runs as ONE JVM-side
    F.aggregate fold over each distinct word's positions — per
    position either decrement the skip counter (inside a match) or
    probe max_piece_len..1 via try_element_at against the broadcast
    head/continuation maps (longest probe wins; a window longer than
    the remaining suffix is guarded off so a short vocab token can
    never masquerade as a longer consume). No Python rows, no
    explode: the fold is O(|w|·L) map lookups on the word grain.
    A vocab token longer than ``max_piece_len`` would silently never
    match, so map construction raises on one (fixture bound: the
    4-merge vocab maxes at 4 chars; L = 8 is headroom).

    Fertility(lang) = Σ n·|pieces(w)| / Σ n over the lang-word grain
    joined to the segmented vocabulary — the corpus is never
    re-tokenized per language. Returns (lang, n_words, n_subwords,
    n_unk, fertility); counts exact bigints, one final division.

    Scale shape: two corpus shuffles total (the global word grain +
    the lang-word grain, both map-combinable); training is
    vocab-bounded (the graded corpus_wordpiece_merges shape); the
    alphabet/merge maps are single-row broadcasts; MaxMatch is map
    work on the distinct-word grain."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    L = int(max_piece_len)
    # ONE word-counts pass AND one symbol-table materialization shared
    # with the trainer (r14 shared the word grain; r15 also shares the
    # checkpointed '##'-symbol table — the apply's alphabet previously
    # re-built and re-checkpointed the identical prefixing transform).
    wc = _word_counts(docs, text_col)
    syms0 = _wordpiece_syms(wc)
    merges = wordpiece_merge_steps(
        docs, steps=steps, text_col=text_col, _wc=wc, _syms=syms0
    )
    # the vocabulary is DRIVER-BOUNDED by construction — the corpus
    # alphabet (one symbol per distinct character) plus ``steps``
    # trained merges — so it is collected and the MaxMatch probes
    # become literal IN-sets (r15): Spark's array-backed maps answer
    # try_element_at by LINEAR scan, which put an O(|vocab|) string
    # walk under every probe of every position of every distinct word;
    # an InSet literal list (the optimizer converts >10-literal INs to
    # a hash set) answers the identical membership in O(1), and
    # slicing the sets by piece length shrinks each probe to exactly
    # the candidates that could match. Same membership, same bl, same
    # segmentation.
    vocab = set(
        r["s"]
        for r in syms0.select(F.explode("syms").alias("s"))
        .distinct()
        .collect()
    ) | set(r["merged"] for r in merges.select("merged").collect())
    heads = sorted(s for s in vocab if not s.startswith("##"))
    conts = sorted(s[2:] for s in vocab if s.startswith("##"))
    # the guard measures the BARE matchable key (a '##'-prefixed
    # symbol of bare length ≤ L is perfectly matchable — r14 review
    # finding); a longer token would silently never match, so raise
    for s in heads + conts:
        if len(s) > L:
            raise ValueError(
                "wordpiece_apply_fertility: vocab token longer "
                f"than max_piece_len={L}: {s}"
            )
    heads_by_len = {
        pl: [s for s in heads if len(s) == pl] for pl in range(1, L + 1)
    }
    conts_by_len = {
        pl: [s for s in conts if len(s) == pl] for pl in range(1, L + 1)
    }

    def _member(piece: Column, tokens: list) -> Column:
        return piece.isin(*tokens) if tokens else F.lit(False)

    def mk(skip: Column, toks: Column, failed: Column) -> Column:
        return F.struct(
            skip.alias("skip"), toks.alias("toks"), failed.alias("failed")
        )

    def step(acc: Column, i: Column) -> Column:
        bl = F.lit(0)
        for piece_len in range(1, L + 1):
            piece = F.substring(F.col("w"), i, F.lit(piece_len))
            hit = F.when(
                i == F.lit(1), _member(piece, heads_by_len[piece_len])
            ).otherwise(_member(piece, conts_by_len[piece_len]))
            bl = F.when(
                (i + F.lit(piece_len - 1) <= F.length("w")) & hit,
                F.lit(piece_len),
            ).otherwise(bl)
        piece = F.substring(F.col("w"), i, bl)
        tok = F.when(i == F.lit(1), piece).otherwise(
            F.concat(F.lit("##"), piece)
        )
        return (
            F.when(acc["failed"], acc)
            .when(acc["skip"] > F.lit(0), mk(acc["skip"] - 1, acc["toks"], acc["failed"]))
            .when(bl == F.lit(0), mk(F.lit(0), F.lit("[UNK]"), F.lit(True)))
            .otherwise(
                mk(bl - 1, F.concat(acc["toks"], F.lit(" "), tok), F.lit(False))
            )
        )

    st = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        mk(F.lit(0), F.lit(""), F.lit(False)),
        step,
    )
    seg = (
        wc.withColumn("_st", st)
        .select(
            "w",
            F.col("_st")["failed"].alias("failed"),
            F.when(F.col("_st")["failed"], F.lit(1))
            .otherwise(F.size(F.split(F.ltrim(F.col("_st")["toks"]), " ")))
            .cast("bigint")
            .alias("n_sub"),
        )
    )
    lc = (
        fan_out(docs)
        .select(F.col(lang_col).alias("lang"), F.explode(tokens(text_col)).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        lc.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_sub")).cast("bigint").alias("n_subwords"),
            F.sum(F.when(F.col("failed"), F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_unk"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            "n_unk",
            F.round(
                F.col("n_subwords").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def pinned_exp(x: Column, terms: int = 30) -> Column:
    """exp(x) as a PINNED 30-term Horner series — deterministic IEEE
    +,/,* in a fixed association order, so both engines produce
    bit-identical doubles (libm exp is NOT cross-engine bitwise: the
    JVM and DuckDB differ in the last ulp on some arguments —
    measured r13). Callers shift arguments to x <= 0 (softmax is
    shift-invariant), where 30 terms are accurate to ~1e-13 for
    |x| <= 4 — and accuracy is secondary: the SAME value on both
    sides is the contract."""
    p = F.lit(1.0)
    for k in range(int(terms), 0, -1):
        p = F.lit(1.0) + x / F.lit(float(k)) * p
    return p


def repetition_budget_plan(
    docs: DataFrame,
    share_num: Column,
    budget_epochs: int = 3,
    r_star: float = 15.4,
    flag_epochs: float = 4.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """REPETITION-AWARE token-budget planning (Muennighoff et al.
    2023, "Scaling Data-Constrained Language Models") — the planner
    that closes the mixing family: DoReMi/DSIR/temperature decide the
    target SHARES, this row decides what those shares COST when a
    source is too small to fill its share without repetition. Per
    source s holding U_s unique tokens and receiving ``share_num(s)``
    parts of a ``budget_epochs``·T total-token budget (T = corpus
    total): allocated_s = budget·num_s div den (exact integer floor
    division — Spark ``div`` == DuckDB ``//``), epochs_s =
    allocated_s/U_s, and the paper's decay law prices the repeats —
    effective tokens D'_s = U_s·(1 + R*·(1 − e^(−R_s/R*))) with
    R_s = epochs_s − 1 repeat passes and the fitted constant
    R* ≈ 15.4: the first ~4 epochs are nearly free, then value decays
    toward the U_s·(1+R*) asymptote. Sources under one epoch take
    allocated_s verbatim (no repeats to discount; the law is
    continuous at epochs = 1). ``repeat_excess`` flags sources pushed
    past ``flag_epochs`` — the signal to re-balance shares or go get
    more data, which is the paper's operational point.

    Exactness: token counts and allocations are exact
    bigints; epochs is ONE correctly-rounded IEEE division of exact
    ints; the decay chain is fixed-order IEEE arithmetic with the
    exponential through the PINNED 30-term Horner series
    (:func:`pinned_exp` — argument −R/R* ≤ 0 by construction), so
    both engines replay every double bit-for-bit. Scale shape: one
    map-combinable token-count pass collapses the corpus to the
    SOURCE grain (≤ K rows); everything after is K-row closed form
    with two broadcast scalars (T, den)."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    per = (
        fan_out(docs)
        .select(
            F.col(source_col).alias("source"),
            F.size(tokens(text_col)).cast("bigint").alias("_nt"),
        )
        .groupBy("source")
        .agg(F.sum("_nt").cast("bigint").alias("n_tokens"))
        .withColumn("share_num", share_num.cast("bigint"))
    )
    totals = per.agg(
        F.sum("n_tokens").cast("bigint").alias("_T"),
        F.sum("share_num").cast("bigint").alias("_den"),
    )
    planned = per.crossJoin(F.broadcast(totals)).withColumn(
        "allocated_tokens",
        F.expr(f"({int(budget_epochs)} * _T * share_num) div _den"),
    )
    epochs = F.col("allocated_tokens") / F.col("n_tokens").cast("double")
    r = epochs - F.lit(1.0)
    eff_rep = F.col("n_tokens").cast("double") * (
        F.lit(1.0)
        + F.lit(float(r_star))
        * (F.lit(1.0) - pinned_exp(-r / F.lit(float(r_star))))
    )
    eff = F.when(
        epochs <= F.lit(1.0), F.col("allocated_tokens").cast("double")
    ).otherwise(eff_rep)
    return planned.select(
        "source",
        "n_tokens",
        "share_num",
        "allocated_tokens",
        F.round(epochs, 6).alias("epochs"),
        F.round(eff, 3).alias("effective_tokens"),
        F.round(eff / F.col("allocated_tokens").cast("double"), 6).alias(
            "utilization"
        ),
        (epochs > F.lit(float(flag_epochs))).alias("repeat_excess"),
    )


def pinned_exp_sql(x: str, terms: int = 30) -> str:
    """The DuckDB replay of :func:`pinned_exp` — the identical
    nested-Horner expression, term for term."""
    expr = "1.0"
    for k in range(int(terms), 0, -1):
        expr = f"(1.0 + ({x}) / {k}.0 * {expr})"
    return expr


def pinned_exp_reduced(x: Column, squarings: int = 6) -> Column:
    """exp(x) for LARGE-magnitude non-positive arguments: the pinned
    30-term Horner (:func:`pinned_exp`) cancels catastrophically past
    |x| ≈ 4, so reduce by 2^squarings first — exp(x) =
    exp(x/64)^64 — where |x/64| is small and the series is accurate
    to ~1e-15, then square back up with exact IEEE multiplies.
    Division by a power of two is exact, each squaring is one fixed
    multiply, so the whole chain stays bit-identical cross-engine
    (the r14 normal-tail/BLEU convention; good for |x| ≤ ~25 at the
    default 6 squarings). exp(0) is exactly 1.0 through the chain.
    The DuckDB replay is :func:`pinned_exp_sql` on the /64-reduced
    argument followed by the same number of ``e*e`` squaring CTEs."""
    y = pinned_exp(x / F.lit(float(2 ** int(squarings))))
    for _ in range(int(squarings)):
        y = y * y
    return y


def doremi_domain_weights(
    docs: DataFrame,
    eta: float = 1.0,
    smoothing: float = 0.2,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """DoReMi-style DOMAIN REWEIGHTING (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    arXiv:2305.10429) — the data-MIXING optimizer next to the graded
    DSIR data-SELECTION row: score each domain (``source_col``) by
    its EXCESS LOSS — how many more bits/token the corpus-global
    unigram LM pays on the domain's tokens than the domain's own
    unigram LM (the proxy for "this domain is underserved by the
    current mixture", standing in for DoReMi's proxy-model loss gap
    under the house pinned-model convention) — and emit the
    exponentiated-gradient mixture
    w(d) ∝ exp(η·excess(d)), smoothed (1−s)·softmax + s/K (the
    paper's update, one exact step).

    Exactness: both LMs are add-½-smoothed count models sharing the
    GLOBAL vocabulary size; per-token surprisal is integer micro-bits
    (the unigram_logprob convention), so excess numerators are exact
    bigints; the softmax shifts by the max argument (shift-invariant,
    keeps x ≤ 0) and exponentiates via :func:`pinned_exp` — a pinned
    Horner series both engines evaluate bit-identically (libm exp is
    not cross-engine stable); the denominator accumulates through an
    ORDERED cumulative window over sources (all terms positive).

    Scale shape: one token explode feeding BOTH count models
    (map-combinable; the domain model keyed by (source, token)); one
    token-keyed join back; everything after collapses to the DOMAIN
    grain (K rows). Returns (source, n_tokens, excess_bits, weight)
    — round-6 doubles plus the exact integer excess numerator."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    toks = fan_out(docs).select(
        F.col(source_col).alias("_src"),
        F.explode(tokens(text_col)).alias("_t"),
    )
    dom_cnt = toks.groupBy("_src", "_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cd")
    )
    glob_cnt = dom_cnt.groupBy("_t").agg(
        F.sum("_cd").cast("bigint").alias("_cg")
    )
    stats = glob_cnt.agg(
        F.sum("_cg").cast("bigint").alias("_tg"),
        F.count(F.lit(1)).cast("bigint").alias("_v"),
    )
    dom_tot = dom_cnt.groupBy("_src").agg(
        F.sum("_cd").cast("bigint").alias("_td")
    )

    def _ubits(c, t, v):
        return (
            F.round(
                -F.log2(
                    (c + F.lit(0.5))
                    / (t + F.lit(0.5) * v)
                )
                * 1e6
            )
            .cast("bigint")
        )

    scored = (
        dom_cnt.join(glob_cnt, "_t")
        .join(F.broadcast(dom_tot), "_src")
        .crossJoin(F.broadcast(stats))
        .select(
            "_src",
            "_cd",
            (
                (
                    _ubits(F.col("_cg"), F.col("_tg"), F.col("_v"))
                    - _ubits(F.col("_cd"), F.col("_td"), F.col("_v"))
                )
                * F.col("_cd")
            ).alias("_ex"),
        )
    )
    per_dom = scored.groupBy("_src").agg(
        F.sum("_cd").cast("bigint").alias("n_tokens"),
        F.sum("_ex").cast("bigint").alias("_ex_num"),
    )
    x = (
        F.lit(float(eta))
        * F.col("_ex_num").cast("double")
        / (F.lit(1e6) * F.col("n_tokens"))
    )
    wmax = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the pinned series is only trustworthy on a bounded domain (the
    # truncated Taylor oscillates catastrophically for large |x| —
    # r13 review finding): enforce |shifted arg| <= 15 at runtime
    # instead of documenting it (at -15 the 30-term series still
    # carries ~5 significant digits; beyond it the 'softmax' can go
    # NEGATIVE and every emitted weight is garbage with no error)
    xs = F.col("_x") - F.max("_x").over(wmax)
    guard = F.assert_true(
        xs >= F.lit(-15.0),
        F.lit(
            "doremi_domain_weights: eta * excess-loss spread exceeds "
            "the pinned-exp domain (shifted argument < -15); lower eta"
        ),
    )
    ex = per_dom.withColumn("_x", x).withColumn(
        "_e", F.when(guard.isNull(), pinned_exp(xs))
    )
    wcum = Window.orderBy("_src").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ex = ex.withColumn("_den", F.sum("_e").over(wcum)).withColumn(
        "_dtot", F.max("_den").over(wmax)
    )
    k = F.count(F.lit(1)).over(wmax)
    s = float(smoothing)
    return ex.select(
        F.col("_src").alias(source_col),
        "n_tokens",
        F.col("_ex_num").alias("excess_micro"),
        F.round(
            F.col("_ex_num") / (F.lit(1e6) * F.col("n_tokens")), 6
        ).alias("excess_bits"),
        F.round(
            F.lit(1.0 - s) * F.col("_e") / F.col("_dtot")
            + F.lit(s) / k,
            6,
        ).alias("weight"),
    )


_UNIGRAM_SENT = -(2**62)  # invalid-DP sentinel: far below any real score


def _viterbi_segment(
    wc: DataFrame, vocab_scores: DataFrame, max_piece_len: int = 4
) -> DataFrame:
    """Viterbi segmentation of the word-frequency grain under a
    unigram piece model — the E-step of :func:`unigram_lm_train`:
    per word, the single best split into vocabulary pieces maximizing
    the sum of integer micro-nat piece scores.

    DP as ONE functional fold per word (F.aggregate over the char
    positions; the BPE string-fold convention extended to a struct
    accumulator): the accumulator carries dp/segmentation for the
    last ``max_piece_len`` positions; at position j the candidates
    are the pieces ending at j (length L..1), each scored
    dp[j-l] + score(piece) with the sentinel for out-of-range or
    out-of-vocabulary; dp[j] = greatest(cands) and the segmentation
    picks the SMALLEST l among the argmax set (ties prefer the
    shorter piece — deterministic, and exactly what the oracle's
    recursive CTE replays; scores are exact bigints so comparisons
    are exact). Coverage: the caller keeps every single character in
    the vocabulary, so dp is always reachable.

    Scale shape: vocabulary scores fold into one broadcast MAP row;
    the DP is a map-side expression on the (already collapsed) word
    grain — zero shuffles here. Returns (w, n_w, seg, dp_micro) with
    seg the space-joined piece sequence."""
    L = int(max_piece_len)
    vm = vocab_scores.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "score_micro"))
        ).alias("vm")
    )
    tagged = wc.crossJoin(F.broadcast(vm))
    sent = F.lit(_UNIGRAM_SENT).cast("bigint")
    init = F.struct(
        F.lit(0).cast("bigint").alias("d1"),
        *[sent.alias(f"d{l}") for l in range(2, L + 1)],
        *[F.lit("").alias(f"s{l}") for l in range(1, L + 1)],
    )

    def _piece(j: Column, l: int) -> Column:
        return F.col("w").substr(j - F.lit(l - 1), F.lit(l))

    def _cand(acc: Column, j: Column, l: int) -> Column:
        sc = F.try_element_at(F.col("vm"), _piece(j, l))
        return F.when(
            (acc[f"d{l}"] == _UNIGRAM_SENT) | sc.isNull(), sent
        ).otherwise(acc[f"d{l}"] + sc)

    def _step(acc: Column, j: Column) -> Column:
        cands = [_cand(acc, j, l) for l in range(1, L + 1)]
        best = F.greatest(*cands)
        seg = None
        # smallest l in the argmax set wins: first equality in 1..L
        for l in range(L, 0, -1):
            emit = F.concat(acc[f"s{l}"], F.lit(" "), _piece(j, l))
            seg = (
                emit
                if seg is None
                else F.when(best == cands[l - 1], emit).otherwise(seg)
            )
        return F.struct(
            best.alias("d1"),
            *[acc[f"d{l - 1}"].alias(f"d{l}") for l in range(2, L + 1)],
            seg.alias("s1"),
            *[acc[f"s{l - 1}"].alias(f"s{l}") for l in range(2, L + 1)],
        )

    folded = tagged.select(
        "w",
        "n_w",
        F.aggregate(
            F.sequence(F.lit(1), F.length("w")), init, _step
        ).alias("_acc"),
    )
    return folded.select(
        "w",
        "n_w",
        F.ltrim(F.col("_acc.s1")).alias("seg"),
        F.col("_acc.d1").alias("dp_micro"),
    )


def _unigram_scores(vocab: DataFrame, count_col: str) -> DataFrame:
    """Add-1-smoothed integer micro-nat scores for a (piece, count)
    vocabulary: score = round((ln(c+1) − ln(T+V))·1e6) — every ln
    argument an exact integer (the accepted ln parity seam), the
    subtraction one deterministic double op, the ×1e6 round the
    established micro-bit convention. Smoothing keeps zero-count
    pieces (the always-kept single chars) finite."""
    totals = vocab.agg(
        F.sum(count_col).cast("bigint").alias("_t"),
        F.count(F.lit(1)).cast("bigint").alias("_v"),
    )
    return vocab.crossJoin(F.broadcast(totals)).select(
        "piece",
        F.col(count_col).alias("n_uses"),
        F.round(
            (
                F.log(F.col(count_col).cast("double") + 1)
                - F.log((F.col("_t") + F.col("_v")).cast("double"))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("score_micro"),
    )


def _unigram_lm_rounds(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    seed_keep: int = 64,
    final_keep: int = 32,
):
    """Shared train pipeline for :func:`unigram_lm_train` /
    :func:`unigram_lm_segment`: seed → EM round 1 → prune → EM round
    2. Returns (final_vocab_with_counts2, seg2). See unigram_lm_train
    for the algorithm contract."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    L = int(max_piece_len)
    wc = (
        fan_out(docs)
        .select(F.explode(tokens(text_col)).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
        .localCheckpoint(eager=True)
    )
    # seed counts: every substring occurrence of length 1..L, weighted
    # by word frequency (the SentencePiece seed, frequent-substring
    # form) — vocab-grain after one map-combinable count
    subs = (
        wc.select(
            "n_w",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), i -> "
                    f"transform(sequence(1, least({L}, length(w)-i+1)), "
                    f"l -> substring(w, i, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("n_w").cast("bigint").alias("c"))
    )
    chars = subs.where(F.length("piece") == 1)
    seed = (
        chars.unionByName(
            subs.where(F.length("piece") >= 2)
            .orderBy(F.desc("c"), "piece")
            .limit(int(seed_keep))
        )
    ).localCheckpoint(eager=True)

    def _counts_under(seg: DataFrame, vocab: DataFrame) -> DataFrame:
        used = (
            seg.select("n_w", F.explode(F.split("seg", " ")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n_w").cast("bigint").alias("_u"))
        )
        return vocab.select("piece").join(used, "piece", "left").select(
            "piece", F.coalesce("_u", F.lit(0)).cast("bigint").alias("c")
        )

    # EM round 1 on the seed vocabulary
    seg1 = _viterbi_segment(wc, _unigram_scores(seed, "c"), L)
    c1 = _counts_under(seg1, seed)
    # prune: every single char survives (coverage — SentencePiece's
    # required-character rule); multi-char pieces keep the top
    # final_keep by EM-round-1 usage
    pruned = (
        c1.where(F.length("piece") == 1)
        .unionByName(
            c1.where(F.length("piece") >= 2)
            .orderBy(F.desc("c"), "piece")
            .limit(int(final_keep))
        )
        .localCheckpoint(eager=True)
    )
    # EM round 2 on the pruned vocabulary
    seg2 = _viterbi_segment(wc, _unigram_scores(pruned, "c"), L)
    c2 = _counts_under(seg2, pruned)
    return c2, seg2


def unigram_lm_train(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    seed_keep: int = 64,
    final_keep: int = 32,
) -> DataFrame:
    """UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018, "Subword
    Regularization", arXiv:1804.10959 — the SentencePiece unigram
    model): the OTHER production tokenizer family next to
    :func:`bpe_merge_steps`. Seed a candidate vocabulary from
    frequent substrings (length 1..``max_piece_len``, frequency-
    weighted on the word grain; all single chars + top ``seed_keep``
    multi-char), then hard-EM: Viterbi-segment every word under the
    current piece scores (E), re-estimate piece scores from usage
    counts (M), prune to the top ``final_keep`` multi-char pieces
    (single chars always survive — the coverage rule), and run one
    more EM round on the pruned vocabulary.

    Exactness: counts are exact bigints; piece scores are integer
    micro-nats round((ln(c+1) − ln(T+V))·1e6) (each ln argument an
    exact integer — the accepted ln parity seam; add-1 smoothing
    keeps zero-count chars finite); the Viterbi DP compares exact
    integers with a deterministic shortest-piece tie-break, so every
    E-step is bit-replayable — the DuckDB oracle replays seeding,
    both EM rounds and the prune with recursive-CTE DPs (hard EM
    rather than full forward-backward is exactly what keeps the
    lattice arithmetic cross-engine exact; it is also SentencePiece's
    own final Viterbi-decode semantics).

    Scale shape: ONE corpus shuffle (the word-frequency rollup — the
    bpe_merge_steps convention); seeding is one map-combinable count
    on the word grain; each EM round is a zero-shuffle map-side DP
    (broadcast score map) plus one vocab-grain count; every vocab
    relation is checkpointed and ≤ seed_keep + |alphabet| rows.
    Returns the final model: (piece, piece_len, n_uses, score_micro).
    """
    c2, _ = _unigram_lm_rounds(
        docs, text_col, max_piece_len, seed_keep, final_keep
    )
    return _unigram_scores(c2, "c").select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "n_uses",
        "score_micro",
    )


def unigram_lm_segment(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    seed_keep: int = 64,
    final_keep: int = 32,
) -> DataFrame:
    """Word-grain SEGMENTATION under the trained unigram LM (identical
    math to :func:`unigram_lm_train`) — the apply-side artifact a
    tokenizer consumer reads, and the seam the fertility comparison
    vs BPE rides (same word grain as :func:`bpe_train_segment`).
    Returns (w, n_w, pieces, n_pieces, dp_micro)."""
    _, seg2 = _unigram_lm_rounds(
        docs, text_col, max_piece_len, seed_keep, final_keep
    )
    return seg2.select(
        "w",
        "n_w",
        F.split("seg", " ").alias("pieces"),
        F.size(F.split("seg", " ")).cast("int").alias("n_pieces"),
        "dp_micro",
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_source: str = "src1",
    n_buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169) —
    the DATA-SELECTION member of the curation family: score every raw
    document by how much it looks like a TARGET distribution, using
    hashed n-gram bag-of-words models of target and raw. Per doc,
    log w(x) = Σ_b n_b(x)·[ln p_b − ln q_b] with add-1-smoothed
    bucket probabilities p (target = rows whose ``source_col`` equals
    ``target_source``) and q (the full corpus); high-weight docs are
    the ones importance resampling keeps. Features are word unigrams
    + bigrams hashed to ``n_buckets`` via the engine-portable
    md5-prefix integer (the house hash seam).

    Exactness: all counts are exact bigints; each ln() argument is an
    exact integer (c_b + 1, tot + B — the accepted ln parity seam);
    the per-doc sum over its buckets accumulates via an ORDERED
    cumulative window (bucket ascending) whose final row is read with
    max_by, so both engines add the identical doubles in the
    identical sequence (terms are signed, so the running max trick
    does not apply — the last-row read does). The smoothing-constant
    part factors out as n_ngrams·[ln(tot_q + B) − ln(tot_p + B)], one
    fixed expression per doc.

    Scale shape: the two bucket models are map-combinable counts that
    collapse to ≤ n_buckets rows each — always broadcast; the only
    corpus-keyed shuffle is the (doc, bucket) count; the scoring join
    touches ≤ n_buckets rows per doc. Docs with zero tokens carry no
    n-gram evidence and are excluded (log w undefined, not 0).
    Returns (doc_id, n_ngrams, log_weight) — raw double log_weight;
    callers round/rank."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    B = int(n_buckets)
    toks = F.col("_toks")
    bigrams = F.expr(
        "zip_with(slice(_toks, 1, size(_toks)-1),"
        " slice(_toks, 2, size(_toks)-1), (l, r) -> concat(l, ' ', r))"
    )
    grams = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.col(source_col).alias("_src"),
            tokens(text_col).alias("_toks"),
        )
        # zero-token docs carry no n-gram evidence and are excluded
        # (docstring contract; the oracle excludes them too) — and the
        # filter must come BEFORE the bigram slice: size(_toks)-1 is -1
        # on an empty array, which raises INVALID_PARAMETER_VALUE.LENGTH
        .where(F.size("_toks") > 0)
        .select(
            "_id",
            "_src",
            F.explode(F.concat(toks, bigrams)).alias("_g"),
        )
        .select(
            "_id",
            "_src",
            (
                F.conv(F.substring(F.md5(F.col("_g")), 1, 13), 16, 10)
                .cast("bigint")
                % B
            ).alias("_b"),
        )
    )
    # BOTH bucket models in one map-combinable pass — the corpus
    # collapses to <= n_buckets rows before any wide state exists
    # (never a checkpointed fact-grain relation; the raw (doc, bucket)
    # grain is built once more below for scoring and flows straight
    # into its own keyed count)
    models = grams.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cq"),
        F.sum(
            F.when(F.col("_src") == target_source, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("_cp"),
    ).localCheckpoint(eager=True)
    tots = models.agg(
        F.sum("_cq").cast("bigint").alias("_tq"),
        F.sum("_cp").cast("bigint").alias("_tp"),
    )
    db = grams.groupBy("_id", "_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    term = F.col("_n").cast("double") * (
        F.log(
            (F.coalesce(F.col("_cp"), F.lit(0)) + 1).cast("double")
        )
        - F.log(
            (F.coalesce(F.col("_cq"), F.lit(0)) + 1).cast("double")
        )
    )
    w_cum = (
        Window.partitionBy("_id")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        db.join(F.broadcast(models), "_b", "left")
        .select(
            "_id",
            "_b",
            "_n",
            F.sum(term).over(w_cum).alias("_cum"),
        )
        .groupBy("_id")
        .agg(
            F.sum("_n").cast("bigint").alias("n_ngrams"),
            F.max_by("_cum", "_b").alias("_bucket_part"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(tots))
        .select(
            F.col("_id").alias(id_col),
            "n_ngrams",
            (
                F.col("_bucket_part")
                + F.col("n_ngrams").cast("double")
                * (
                    F.log((F.col("_tq") + B).cast("double"))
                    - F.log((F.col("_tp") + B).cast("double"))
                )
            ).alias("log_weight"),
        )
    )


def span_corruption_examples(
    docs: DataFrame,
    span_len: int = 3,
    stride: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style SPAN-CORRUPTION example generation (Raffel et al.
    2020 §3.1.4) — the denoising-objective twin of the next-token row
    (corpus_lm_examples): mask token spans with sentinel tokens, emit
    (input, target) where the input keeps the unmasked text with
    ``<extra_id_i>`` markers and the target lists each sentinel
    followed by the tokens it hides. The reference objective samples
    spans; this deterministic member places length-``span_len`` spans
    on a ``stride`` grid with a per-document md5 phase offset (the
    pinned-uniform house seam) — every doc gets ~1/stride·span_len
    noise density, both engines derive the identical spans, and the
    per-position RNG of the sampled variant swaps into the same grid
    expression. Construction is ONE fold over the span starts per doc
    (string accumulator — the BPE-fold convention): each span appends
    the clean segment + its sentinel to the input and the sentinel +
    hidden tokens to the target.

    Scale shape: pure map-side (tokenize → grid spans → fold), ZERO
    shuffles — embarrassingly parallel at any corpus size. Returns
    (doc_id, n_tokens, n_spans, input, target); docs shorter than
    the first span yield n_spans = 0 with the text passed through."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    sl, st = int(span_len), int(stride)
    base = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("_id"),
            tokens(text_col).alias("_t"),
        )
        .withColumn("_n", F.size("_t"))
        .withColumn(
            "_k",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("span-v1:"),
                                F.col("_id").cast("string"),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % st
            ).cast("int"),
        )
        .withColumn(
            "_starts",
            F.when(
                F.col("_n") - sl >= F.col("_k"),
                F.expr(f"sequence(_k, _n - {sl}, {st})"),
            ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)")),
        )
    )
    init = F.struct(
        F.lit("").alias("inp"),
        F.lit("").alias("tgt"),
        F.lit(0).cast("int").alias("prev"),
        F.lit(0).cast("int").alias("idx"),
    )

    def _step(acc: Column, s: Column) -> Column:
        seg = F.array_join(
            F.slice(F.col("_t"), acc["prev"] + 1, s - acc["prev"]), " "
        )
        hidden = F.array_join(F.slice(F.col("_t"), s + 1, sl), " ")
        sent = F.concat(
            F.lit(" <extra_id_"), acc["idx"].cast("string"), F.lit(">")
        )
        return F.struct(
            F.concat(acc["inp"], F.lit(" "), seg, sent).alias("inp"),
            F.concat(acc["tgt"], sent, F.lit(" "), hidden).alias("tgt"),
            (s + sl).cast("int").alias("prev"),
            (acc["idx"] + 1).cast("int").alias("idx"),
        )

    def _finish(acc: Column) -> Column:
        tail = F.array_join(
            F.slice(
                F.col("_t"),
                acc["prev"] + 1,
                F.col("_n") - acc["prev"],
            ),
            " ",
        )
        return F.struct(
            F.trim(F.concat(acc["inp"], F.lit(" "), tail)).alias("inp"),
            F.ltrim(acc["tgt"]).alias("tgt"),
            acc["idx"].alias("n_spans"),
        )

    red = base.select(
        "_id",
        "_n",
        F.aggregate("_starts", init, _step, _finish).alias("_r"),
    )
    return red.select(
        F.col("_id").alias(id_col),
        F.col("_n").cast("bigint").alias("n_tokens"),
        F.col("_r")["n_spans"].cast("bigint").alias("n_spans"),
        F.col("_r")["inp"].alias("input"),
        F.col("_r")["tgt"].alias("target"),
    )


def pair_bleu(
    docs: DataFrame,
    pairs: DataFrame,
    max_n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-BLEU (Papineni et al. 2002) over CANDIDATE DOCUMENT
    PAIRS — the MT-grade overlap metric applied where an LLM-data
    pipeline actually needs it: scoring near-duplicate / contamination
    candidates that set-based Jaccard ranks coarsely (BLEU's CLIPPED
    n-gram precision distinguishes "same vocabulary, reshuffled" from
    "same phrasing", and the brevity penalty punishes one-sided
    containment). For each pair (a, b): candidate = b scored against
    reference = a, pₙ = Σ min(countᵦ(g), countₐ(g)) / (|b| − n + 1)
    for n = 1..max_n, BP = min(1, e^(1−|a|/|b|)), BLEU =
    BP·exp(Σ ln pₙ / max_n) — zero whenever any pₙ is zero or the
    candidate is shorter than max_n tokens (the standard unsmoothed
    convention; near-dup pairs clear it).

    Exactness: every n-gram count is an exact bigint; each pₙ is one
    IEEE division; ln is cross-engine bitwise (the r13-measured seam:
    ln/log2 are, exp is not); BOTH exponentials ride ONE pinned
    /64-reduced Horner chain (:func:`pinned_exp_reduced`) on
    y = min(0, 1−r/c) + (Σ ln pₙ)/max_n — exp(a)·exp(b) = exp(a+b)
    spelled the same fixed way on both engines.

    Scale shape: the gram relation is built ONLY for pair-participant
    docs (semi-join first — at scale the pair feed is the banded
    near-dup generator's output, a vanishing fraction of the corpus);
    one (doc, n, gram)-keyed count, one keyed join per side, and the
    per-pair rollup — never a corpus-wide self-join. All four gram
    orders are built as ONE staged array inside the token checkpoint
    and leave through ONE Generate (r15: the earlier shape ran four
    explodes whose transform children are CodegenFallback — Generate
    re-evaluates such a child per OUTPUT row, the duplicated_ngram_
    spans pathology, ~O(|toks|²) array_joins per doc per order); the
    pair feed and the gram counts are persisted, not checkpoint
    barriers (guide §1.2 — two fewer driver-blocking jobs; each is
    evaluated once per run and released by the module release hook)."""
    from ydb_vector_search_demo_spark.functions.textstats import tokens
    from ydb_vector_search_demo_spark.operators.dedup import _persist
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    N = int(max_n)
    pr = _persist(
        pairs.select(
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
        )
    )
    # ONE reference to the pair feed (explode of the [a, b] pair), so
    # the persisted relation is computed exactly once, inside the token
    # checkpoint job — a union of two selects would race its own cache
    # population
    pd_ids = (
        pr.select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias(id_col)
        )
        .distinct()
    )
    gram_arr = F.flatten(
        F.array(
            *[
                F.when(
                    F.size("_toks") >= F.lit(n),
                    F.transform(
                        F.sequence(F.lit(1), F.size("_toks") - F.lit(n - 1)),
                        (
                            lambda nn: lambda i: F.struct(
                                F.lit(nn).alias("_n"),
                                F.array_join(
                                    F.slice("_toks", i, F.lit(nn)), " "
                                ).alias("_gram"),
                            )
                        )(n),
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<_n:int,_gram:string>>"
                    )
                )
                for n in range(1, N + 1)
            ]
        )
    )
    tk = (
        fan_out(docs)
        .join(pd_ids, id_col)
        .select(F.col(id_col).alias("_d"), tokens(text_col).alias("_toks"))
        .withColumn("_nt", F.size("_toks").cast("bigint"))
        .withColumn("_grams", gram_arr)
        .localCheckpoint(eager=True)
    )
    gc = _persist(
        tk.select("_d", F.explode("_grams").alias("_g"))
        .select("_d", F.col("_g._n").alias("_n"), F.col("_g._gram").alias("_gram"))
        .groupBy("_d", "_n", "_gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    cb = pr.join(gc, pr["b"] == gc["_d"]).select(
        "a", "b", "_n", "_gram", F.col("_c").alias("_cb")
    )
    ga = gc.select(
        F.col("_d").alias("_da"),
        F.col("_n").alias("_na"),
        F.col("_gram").alias("_grama"),
        F.col("_c").alias("_ca"),
    )
    cl = (
        cb.join(
            ga,
            (cb["a"] == ga["_da"])
            & (cb["_n"] == ga["_na"])
            & (cb["_gram"] == ga["_grama"]),
            "left",
        )
        .groupBy("a", "b", "_n")
        .agg(
            F.sum(
                F.least(F.col("_cb"), F.coalesce(F.col("_ca"), F.lit(0)))
            )
            .cast("bigint")
            .alias("_clip")
        )
    )
    pv = cl.groupBy("a", "b").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("_n") == n, F.col("_clip"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"_c{n}")
            for n in range(1, N + 1)
        ]
    )
    lens = tk.select("_d", "_nt")
    sc = (
        pv.join(lens.select(F.col("_d").alias("a"), F.col("_nt").alias("_la")), "a")
        .join(lens.select(F.col("_d").alias("b"), F.col("_nt").alias("_lb")), "b")
    )
    ps = [
        F.col(f"_c{n}")
        / (F.col("_lb") - F.lit(n - 1)).cast("double")
        for n in range(1, N + 1)
    ]
    ok = F.col("_lb") >= F.lit(N)
    for n in range(1, N + 1):
        ok = ok & (F.col(f"_c{n}") > F.lit(0))
    lnsum = None
    for p in ps:
        lnsum = F.log(p) if lnsum is None else lnsum + F.log(p)
    # the ok gate is also the ANSI-safety gate: Spark 4 ANSI throws on
    # double division by zero, and a candidate shorter than max_n has
    # a zero pₙ denominator — CASE short-circuits per row, so y's
    # divisions only ever run where ok guarantees len_b ≥ max_n and
    # every clipped count positive (the oracle's CASE-gated lns twin)
    y = F.when(
        ok,
        F.least(
            F.lit(0.0),
            F.lit(1.0)
            - F.col("_la").cast("double") / F.col("_lb").cast("double"),
        )
        + lnsum / F.lit(float(N)),
    ).otherwise(F.lit(0.0))
    # two checkpoint BARRIERS split the pinned-exp chain into
    # codegen-sized pieces: CollapseProject would otherwise inline y's
    # ln/join tree into all 30·2^6 slots of one expression (the
    # codegen string OOMed the driver, measured r14), and even over a
    # plain column the fused horner+squarings tree (30·64 refs)
    # overflows janino's method limit. Materializing y, then the
    # 30-term horner of y/64, leaves the final squaring tree at 2^6
    # column refs — every stage compiles, every double is unchanged.
    sc = sc.withColumn("_y", y).withColumn("_ok", ok).localCheckpoint(
        eager=True
    )
    sc = sc.withColumn(
        "_h", pinned_exp(F.col("_y") / F.lit(64.0))
    ).localCheckpoint(eager=True)
    e = F.col("_h")
    for _ in range(6):
        e = e * e
    bleu = F.when(F.col("_ok"), F.round(e, 6)).otherwise(F.lit(0.0))
    return sc.select(
        "a",
        "b",
        F.col("_la").alias("len_a"),
        F.col("_lb").alias("len_b"),
        *[
            F.when(
                F.col("_lb") >= F.lit(n),
                F.round(
                    F.col(f"_c{n}")
                    / (F.col("_lb") - F.lit(n - 1)).cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias(f"p{n}")
            for n in range(1, N + 1)
        ],
        bleu.alias("bleu"),
    ).orderBy("a", "b")
