"""Near-duplicate candidate search: banded MinHash LSH keeps popular
shingles from flooding one bucket, and near-dup clusters close
transitively."""

from __future__ import annotations


def test_banded_lsh_bounds_popular_shingle_buckets(spark):
    """r=1 LSH made any two docs sharing one popular min-shingle a
    candidate pair (quadratic on templated corpora). Banded r=8 requires a
    full band of 8 minhash agreements: docs sharing a template phrase but
    otherwise distinct must produce ~zero candidates, while exact/near
    duplicates still collide."""
    import random

    from tidb_lightning_spark.functions.dedup import lsh_candidate_pairs

    rng = random.Random(7)
    template = "lorem ipsum dolor sit amet consectetur"
    rows = []
    for i in range(300):
        uniq = " ".join(f"tok{rng.randrange(10**9)}" for _ in range(30))
        rows.append((i, f"{template} {uniq}"))
    # 5 exact duplicate pairs that MUST be found
    for j in range(5):
        rows.append((1000 + j, rows[j][1]))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = lsh_candidate_pairs(df, "doc_id", "text").collect()
    found = {(r["a"], r["b"]) for r in pairs}
    for j in range(5):
        assert (j, 1000 + j) in found
    # shared template must not blow up the candidate set: allow a small
    # number of chance collisions beyond the 5 planted duplicates
    assert len(found) <= 10, f"{len(found)} candidate pairs (hot bucket?)"
    dup_sims = [r["est_jaccard"] for r in pairs if (r["a"], r["b"]) in
                {(j, 1000 + j) for j in range(5)}]
    assert all(s == 1.0 for s in dup_sims)


def test_near_dup_clusters_transitive(spark):
    """Chain a~b~c (a,c not directly similar) must land in ONE cluster
    labeled min(id); unrelated docs stay singletons."""
    from tidb_lightning_spark.functions.dedup import near_dup_clusters

    base = " ".join(f"w{i}" for i in range(40))
    b = base.replace("w39", "x39")   # ~a (1 shingle of 38 differs)
    c = b.replace("w0", "y0")        # ~b, two edits away from a
    rows = [
        (1, base), (2, b), (3, c),
        (10, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert got[1] == 1 and got[2] == 1 and got[3] == 1
    assert got[10] == 10
