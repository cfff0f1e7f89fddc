"""Streaming LSH near-duplicate detection — the incremental duals of
``operators/dedup.py minhash_lsh_pairs`` (text, MinHash bands) and
``embedding_cosine_pairs(pruned=True)`` (embeddings, sign-LSH bands, r8);
both fronts share one keyed bucket-state candidate emitter.

As documents stream in, each is shingled/minhashed/banded by the SAME fused
Arrow kernel as the batch path (``minhash_banded_frame`` runs unchanged on a
streaming DataFrame), then keyed state per LSH bucket ``(band_idx,
band_hash)`` holds the bucket's member ids; every arriving document emits
one candidate pair against each EARLIER member of any bucket it lands in.

Split-invariance contract (tests/test_lsh_stream.py): the DISTINCT set of
emitted candidate pairs equals the batch band-join's candidate set for ANY
micro-batch partition of the input — each bucket's final member set is
split-invariant, and "pair each arrival with all prior members (and with
same-batch predecessors in id order)" enumerates exactly its unordered
member pairs.  Verification stays a batch post-pass on the sink
(``verify_shingle_pairs`` against the corpus signature table) — the same
candidate→verify split every production streaming dedup uses.

Scale: state is the id list per OCCUPIED bucket (overwhelmingly singletons;
total state = corpus × bands ids, partitioned by bucket key across the
state store); per batch only that batch's (bucket, id) rows shuffle.  A
pathological hot bucket (m members → m² pairs) is the LSH parameterization's
problem — same as batch — not a streaming regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from simsearch_spark.functions.hashing import N_BANDS, N_HASHES
from simsearch_spark.operators.dedup import LSH_BUCKET_CAP, minhash_banded_frame

PAIR_SCHEMA = "id_a long, id_b long"
STATE_SCHEMA = "members array<long>, n_dropped long"


def minhash_candidates_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    bands: int = N_BANDS,
    shingle_n: int = 3,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from a streaming document frame; pairs
    may repeat across buckets/batches — consumers ``dropDuplicates`` (the
    batch dual does the same after its band join)."""
    docs = docs.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    banded = minhash_banded_frame(docs, id_col, text_col, n_hashes, bands, shingle_n)
    expl = banded.select(
        F.col(id_col).alias("doc"), F.posexplode("bands").alias("band_idx", "band_hash")
    )
    return _bucket_state_candidates(expl, bucket_cap)


def embedding_candidates_stream(
    vecs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    band_bits: int = 4,
    planes_seed: int = 7,
    mean: list[float] | None = None,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """Streaming sign-LSH near-dup candidates for an EMBEDDING stream — the
    incremental dual of ``embedding_cosine_pairs(pruned=True)``'s banding
    front, sharing the keyed bucket state with the minhash front above.

    ``dim`` is explicit (a stream has no first() to probe) and ``mean`` is
    the optional precomputed per-dimension corpus mean for one-sided
    features (the center=True scale fix) — a stream cannot compute a global
    mean mid-flight, so production supplies it as a batch profile artifact,
    exactly like IVF centroids.  Same split-invariance contract: the
    distinct candidate set equals the batch band join for ANY micro-batch
    partition (tests/test_lsh_stream.py); scoring stays a batch post-pass
    on raw vectors."""
    from simsearch_spark.functions.measures import vec_lit
    from simsearch_spark.operators.ann import lcg_hyperplanes, lsh_band_keys

    planes = lcg_hyperplanes(dim, n_planes, seed=planes_seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if mean is not None:
        v = F.zip_with(v, vec_lit(mean), lambda x, m: x - m)
    # per-band independent keys — same construction as the batch front
    # (value-identical to the old packed shiftright slicing for
    # bands·band_bits ≤ 63, unbounded beyond), so auto_sign_lsh_params
    # sizings apply to both fronts identically
    expl = (
        vecs.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            lsh_band_keys(v, planes, band_bits).alias("keys"),
        )
        .select("doc", F.posexplode("keys").alias("band_idx", "band_hash"))
    )
    return _bucket_state_candidates(expl, bucket_cap)


def _bucket_state_candidates(
    expl: DataFrame, bucket_cap: int | None = LSH_BUCKET_CAP
) -> DataFrame:
    """(doc, band_idx, band_hash) rows → streamed candidate pairs via keyed
    per-bucket member state — shared by the minhash and sign-LSH fronts.

    bucket_cap mirrors the batch guard (operators/dedup.py
    ``LSH_BUCKET_CAP``): once a bucket holds ``cap`` members, later
    arrivals neither emit pairs nor enter state (counted in
    ``n_dropped``), so hot-bucket STATE and per-trigger pair emission stay
    bounded — for an id-ordered stream the final pair set equals the batch
    dual's lowest-id-cap rule, and for any arrival order the set is
    invariant to micro-batch boundaries (the split-invariance contract)."""

    def emit(key, pdfs, state):
        import warnings

        import pandas as pd

        warnings.filterwarnings(
            "ignore", category=FutureWarning, message=".*concatenation with empty or all-NA.*"
        )
        members: list[int] = list(state.get[0]) if state.exists else []
        n_dropped: int = int(state.get[1]) if state.exists else 0
        a_out: list[int] = []
        b_out: list[int] = []
        new_ids: list[int] = []
        for pdf in pdfs:
            new_ids.extend(int(x) for x in pdf["doc"])
        for doc in sorted(set(new_ids) - set(members)):
            if bucket_cap is not None and len(members) >= bucket_cap:
                # hot-bucket overflow: drop-with-count (see docstring)
                n_dropped += 1
                continue
            for m in members:
                a_out.append(min(doc, m))
                b_out.append(max(doc, m))
            members.append(doc)
        state.update((members, n_dropped))
        return iter([pd.DataFrame({"id_a": a_out, "id_b": b_out})])

    return expl.groupBy("band_idx", "band_hash").applyInPandasWithState(
        emit, PAIR_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
