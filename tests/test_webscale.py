"""Web-scale layer: pages table, geotag parse, cell index, dedup,
similarity, grid IO."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark.functions.cells import (
    cell_center,
    cell_disk,
    cell_encode,
    cell_encode_sql,
    cell_parent,
    cell_resolution,
)
from verde_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    geotag_lat,
    geotag_lon,
    lang_id_expr,
    quality_score,
    shingles,
    token_count,
)
from verde_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash_near_duplicates,
)
from verde_spark.operators.similarity import cosine_topk, lsh_bucketed_topk
from verde_spark.sources.pages import geotagged, synthesize_pages
from verde_spark.sources.grid_io import grid_to_table, load_surfer, table_to_grid


# --- pages + geotag ---------------------------------------------------------


def test_pages_deterministic_and_geotag_roundtrip(spark):
    pages = synthesize_pages(spark, 500, region=(-5, 0, 5, 10), seed=42).cache()
    assert pages.count() == 500
    # deterministic across partitionings
    again = synthesize_pages(spark, 500, region=(-5, 0, 5, 10), seed=42, num_partitions=7)
    assert pages.exceptAll(again).count() == 0
    tagged = geotagged(pages)
    row = tagged.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat"), F.count("lon")
    ).first()
    assert row[4] == 500
    assert -5 <= row[0] <= row[1] <= 0
    assert 5 <= row[2] <= row[3] <= 10
    # text passes through byte-identically (geotagging never rewrites it)
    assert tagged.select("url", "text").exceptAll(pages.select("url", "text")).count() == 0


def test_geotag_parse_golden(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["page 7 geo:6.123456,-3.250000 lang:en", "no geotag here"]})
    )
    got = df.select(
        geotag_lat("text").alias("lat"), geotag_lon("text").alias("lon")
    ).toPandas()
    assert got["lat"][0] == pytest.approx(6.123456)
    assert got["lon"][0] == pytest.approx(-3.25)
    assert np.isnan(got["lat"][1])


# --- cell index ---------------------------------------------------------------


def test_cell_encode_roundtrip_and_parent(spark):
    pages = geotagged(synthesize_pages(spark, 200, seed=1)).cache()
    res = 12
    cells = pages.select(
        "lon", "lat", cell_encode("lon", "lat", res).alias("cell")
    ).cache()
    # resolution recovered; center within half a cell of the point
    n = 1 << res
    lon_c, lat_c = cell_center("cell", res)
    check = cells.select(
        cell_resolution("cell").alias("r"),
        (F.abs(lon_c - F.col("lon")) <= 180.0 / n).alias("lon_ok"),
        (F.abs(lat_c - F.col("lat")) <= 90.0 / n).alias("lat_ok"),
    ).toPandas()
    assert (check["r"] == res).all()
    assert check["lon_ok"].all()
    assert check["lat_ok"].all()
    # parent contains child center
    parents = cells.select(
        "lon", "lat", cell_parent("cell", res, res - 4).alias("p"),
        cell_encode("lon", "lat", res - 4).alias("direct"),
    ).toPandas()
    npt.assert_array_equal(parents["p"], parents["direct"])


def test_cell_encode_matches_sql_oracle(spark):
    import duckdb

    pages = geotagged(synthesize_pages(spark, 300, seed=2)).select("lon", "lat")
    got = pages.select(cell_encode("lon", "lat", 10).alias("cell")).toPandas()
    pdf = pages.toPandas()
    sql = cell_encode_sql("lon", "lat", 10)
    exp = duckdb.sql(f"SELECT {sql} AS cell FROM pdf").df()
    npt.assert_array_equal(np.sort(got["cell"]), np.sort(exp["cell"]))


def test_cell_disk(spark):
    df = spark.createDataFrame(pd.DataFrame({"lon": [0.0], "lat": [0.0]}))
    res = 8
    out = df.select(
        F.explode(cell_disk(cell_encode("lon", "lat", res), res)).alias("c")
    ).toPandas()
    assert len(out) == 9  # interior cell: full 3x3
    # pole clamp: fewer distinct neighbors
    df2 = spark.createDataFrame(pd.DataFrame({"lon": [0.0], "lat": [89.9]}))
    out2 = df2.select(
        F.explode(cell_disk(cell_encode("lon", "lat", res), res)).alias("c")
    ).toPandas()
    assert len(out2) == 6


# --- text functions -----------------------------------------------------------


def test_text_functions(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "the cat and the dog of the house is big",
                    "der Hund und die Katze das ist gut",
                    "",
                    "x",
                ]
            }
        )
    )
    got = df.select(
        token_count("text").alias("tokens"),
        bpe_ish_token_count("text").alias("bpe"),
        lang_id_expr("text").alias("lang"),
        quality_score("text").alias("q"),
        fingerprint("text").alias("fp"),
    ).toPandas()
    assert got["tokens"].tolist() == [10, 8, 0, 1]
    assert got["lang"].tolist()[:2] == ["en", "de"]
    assert got["lang"][2] == "und"
    assert (got["q"] >= 0).all() and (got["q"] <= 1).all()
    assert got["fp"].nunique() == 4


def test_token_count_whitespace_edges(spark):
    """\\S+-run semantics (review r5): trim() strips only SPACES, so the
    old trim+split counted phantom edge tokens on tab/newline-padded
    text — +1 token on every newline-terminated document, corrupting
    the quality words denominator."""
    import duckdb

    cases = [
        ("hello world\n", 2),
        ("\thello", 1),
        ("\n", 0),
        ("", 0),
        ("  a  b  ", 2),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", token_count("t").alias("n")).collect()
    }
    for i, (t, want) in enumerate(cases):
        assert got[i] == want, (t, got[i], want)
    # the driver-oracle DuckDB form agrees
    con = duckdb.connect()
    for t, want in cases:
        if t is None:
            continue
        (n,) = con.execute(
            r"SELECT len(list_filter(regexp_split_to_array(?, '\s+'),"
            " x -> x <> ''))",
            [t],
        ).fetchone()
        assert n == want, (t, n, want)


def test_shingles(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["a b c d", "a b", ""]}))
    got = df.select(F.size(shingles("text", 3)).alias("n")).toPandas()
    assert got["n"].tolist() == [2, 0, 0]


# --- dedup ---------------------------------------------------------------------


def _docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog tonight",  # exact dup of 0
        "the quick brown fox jumps over the lazy dog today",  # near dup of 0
        "completely different text about distributed spark engines",
        "yet another unrelated document mentioning warehouse analytics",
    ]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).cache()


def test_exact_dedup(spark):
    docs = _docs(spark)
    dups = exact_duplicates(docs).toPandas()
    assert len(dups) == 1 and dups["n_copies"][0] == 2 and dups["keep_id"][0] == 0
    kept = dedup_exact(docs).toPandas()
    assert sorted(kept["doc_id"]) == [0, 2, 3, 4]


def test_minhash_lsh(spark):
    docs = _docs(spark)
    cand = lsh_candidate_pairs(docs, num_hashes=32, bands=16)
    jac = jaccard_pairs(docs, cand).toPandas()
    pairs = {(a, b): j for a, b, j in jac.itertuples(index=False)}
    assert pairs[(0, 1)] == pytest.approx(1.0)  # exact dup always collides
    # near dup (0,2) shares most shingles
    if (0, 2) in pairs:
        assert pairs[(0, 2)] > 0.5
    kept = dedup_minhash(docs, threshold=0.8, num_hashes=32, bands=16).toPandas()
    assert 0 in set(kept["doc_id"]) and 1 not in set(kept["doc_id"])


def test_simhash(spark):
    docs = _docs(spark)
    pairs = simhash_near_duplicates(docs, max_hamming=6).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got  # identical text → hamming 0
    assert pairs.set_index(["id_a", "id_b"]).loc[(0, 1), "hamming"] == 0


def test_simhash_block_split_recall_is_exact(spark):
    """The m+1-block pigeonhole split must find EVERY pair within the
    radius — cross-checked against brute-force all-pairs hamming over
    the same signatures (review r5: a fixed 4-block split silently lost
    recall past distance 3)."""
    from verde_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    sigs = simhash_signatures(docs).toPandas()
    for m in (3, 6):
        want = set()
        rows = list(zip(sigs["doc_id"], sigs["simhash"]))
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                (ia, sa), (ib, sb) = rows[i], rows[j]
                if bin((sa ^ sb) & (2**64 - 1)).count("1") <= m:
                    want.add((min(ia, ib), max(ia, ib)))
        pairs = simhash_near_duplicates(docs, max_hamming=m).toPandas()
        got = set(zip(pairs["id_a"], pairs["id_b"]))
        assert got == want, (m, got ^ want)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_duplicates(docs, max_hamming=16)


def test_dedup_on_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    kept = dedup_exact(docs, id_col="doc_id", text_col="text")
    n_distinct = docs.select("text").distinct().count()
    assert kept.count() == n_distinct


# --- similarity ------------------------------------------------------------------


def test_cosine_topk_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    got = cosine_topk(emb, queries, k=3).toPandas()
    # every query has exactly 3 neighbors, self is rank 1 with cosine ~1
    assert len(got) == 15
    top1 = got[got["rank"] == 1]
    npt.assert_array_equal(np.sort(top1["neighbor_id"]), np.sort(top1["query_id"]))
    npt.assert_allclose(top1["cosine"], 1.0, rtol=1e-9)
    # cross-check one query against NumPy brute force
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qid = int(got["query_id"].iloc[0])
    qrow = np.where(pdf["vec_id"].to_numpy() == qid)[0][0]
    sims = mat @ mat[qrow]
    expected_top3 = set(pdf["vec_id"].to_numpy()[np.argsort(-sims)[:3]].tolist())
    mine = set(got[got["query_id"] == qid]["neighbor_id"].tolist())
    assert mine == expected_top3


def test_lsh_bucketed_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    exact = cosine_topk(emb, queries, k=1).toPandas()
    approx = lsh_bucketed_topk(emb, queries, k=1, num_planes=6).toPandas()
    # self-match must always be found (same bucket by construction)
    merged = exact.merge(approx, on="query_id", suffixes=("_e", "_a"))
    assert (merged["neighbor_id_a"] == merged["query_id"]).all()


# --- grid io ------------------------------------------------------------------------


def test_grid_roundtrip(spark):
    values = np.arange(12, dtype="float64").reshape(3, 4)
    df = grid_to_table(values, (0, 3, 0, 2), spark)
    east, north, got = table_to_grid(df)
    npt.assert_allclose(east, np.linspace(0, 3, 4))
    npt.assert_allclose(north, np.linspace(0, 2, 3))
    npt.assert_allclose(got, values)


def test_load_surfer(spark, tmp_path):
    grd = tmp_path / "test.grd"
    # reference header semantics (io.py:79-114): shape line is
    # "n_northing n_easting", then "south north", then "west east"
    grd.write_text(
        "DSAA\n3 4\n0 2\n0 3\n0 11\n"
        "0 1 2 3\n4 5 1.70141e38 7\n8 9 10 11\n"
    )
    values, region = load_surfer(str(grd))
    assert region == (0, 3, 0, 2)
    assert values.shape == (3, 4)
    assert np.isnan(values[1, 2])
    assert np.nanmax(values) == 11
    # corrupted header → integrity error (verde io.py:117-134)
    bad = tmp_path / "bad.grd"
    bad.write_text("DSAA\n3 4\n0 2\n0 3\n0 99\n0 1 2 3\n4 5 6 7\n8 9 10 11\n")
    with pytest.raises(ValueError):
        load_surfer(str(bad))


def test_main_entrypoint(spark, tmp_path, capsys):
    # the spark-submit entrypoint end-to-end: synthesize -> grid parquet
    import json

    from verde_spark.__main__ import main

    out = str(tmp_path / "grid_out")
    rc = main([
        "--synthesize", "5000", "--output", out,
        "--region=-5,0,5,10", "--spacing", "0.5",
        "--tile", "2.5", "--halo", "1.25", "--shape", "12x12",
    ])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["grid_nodes"] == 144
    grid = spark.read.parquet(out)
    assert grid.count() == 144
    assert {"iy", "ix", "northing", "easting", "prediction"} <= set(grid.columns)

    # checkpointed variant resumes to the same result
    out2 = str(tmp_path / "grid_ckpt")
    ckpt = str(tmp_path / "ckpt")
    rc = main([
        "--synthesize", "5000", "--output", out2,
        "--region=-5,0,5,10", "--spacing", "0.5",
        "--tile", "2.5", "--halo", "1.25", "--shape", "12x12",
        "--checkpoint", ckpt,
    ])
    assert rc == 0
    a = spark.read.parquet(out).orderBy("iy", "ix").select("prediction").toPandas()
    b = spark.read.parquet(out2).orderBy("iy", "ix").select("prediction").toPandas()
    import numpy.testing as npt

    npt.assert_allclose(a["prediction"], b["prediction"], rtol=1e-12)


def test_embedding_near_dup(spark):
    # synthetic near-duplicate embeddings: each "dup" is a tiny perturbation
    # of a base vector; brute-force NumPy cosine is the reference
    import numpy as np
    import pandas as pd

    from verde_spark.operators.dedup import dedup_embedding, embedding_near_duplicate_pairs

    rng = np.random.RandomState(21)
    base = rng.normal(size=(40, 16))
    dups = base[:10] + rng.normal(scale=0.01, size=(10, 16))  # near-copies
    vecs = np.vstack([base, dups])
    ids = np.arange(len(vecs))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "embedding": [v.tolist() for v in vecs]}),
        schema="doc_id long, embedding array<double>",
    )
    # reference pair set
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = nv @ nv.T
    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if cos[i, j] >= 0.99
    }
    assert len(want) >= 10  # the 10 planted pairs
    got_pairs = embedding_near_duplicate_pairs(
        df, threshold=0.99, num_planes=8, num_tables=6
    ).toPandas()
    got = {(int(a), int(b)) for a, b in zip(got_pairs["id_a"], got_pairs["id_b"])}
    assert got == want  # full recall on planted near-identical pairs

    kept = dedup_embedding(df, threshold=0.99, num_planes=8, num_tables=6)
    kept_ids = set(kept.toPandas()["doc_id"])
    dropped = set(ids) - kept_ids
    assert dropped == {j for _, j in want}


def test_geotag_malformed_inputs(spark):
    # malformed / missing geotags yield nulls, never errors or fake coords
    import pandas as pd

    from verde_spark.sources.pages import geotagged

    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(6)],
            "text": [
                "page 0 geo:12.500000,-33.250000 lang:en",  # valid
                "no geotag at all",
                "geo:",                                      # truncated
                "geo:abc,def",                               # non-numeric
                "",                                          # empty
                "geo:1.5",                                   # missing lon
            ],
        }
    )
    out = geotagged(spark.createDataFrame(pdf)).select("url", "lon", "lat").toPandas()
    byurl = out.set_index("url")
    assert byurl.loc["u0", "lat"] == 12.5 and byurl.loc["u0", "lon"] == -33.25
    for u in ["u1", "u2", "u3", "u4", "u5"]:
        assert pd.isna(byurl.loc[u, "lon"]) and pd.isna(byurl.loc[u, "lat"])


def test_embedding_near_dup_empty_input(spark):
    from verde_spark.operators.dedup import embedding_near_duplicate_pairs

    empty = spark.createDataFrame([], schema="doc_id bigint, embedding array<float>")
    out = embedding_near_duplicate_pairs(empty)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_embedding_near_dup_null_first_row_still_finds_pairs(spark):
    """The dim probe must skip NULL embeddings: a nullable FIRST row is
    not an empty corpus (review r5: first() hitting a NULL returned zero
    pairs for the whole table)."""
    from verde_spark.operators.dedup import embedding_near_duplicate_pairs

    v = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, None), (1, v), (2, v)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, embedding array<double>"
    ).coalesce(1)  # one partition: the NULL row is scanned first
    out = embedding_near_duplicate_pairs(df, threshold=0.99).toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(1, 2)}


def test_connected_components_chain_star_and_pointer_jumping(spark):
    from verde_spark.operators.dedup import connected_components

    # 20-node chain (forces >1 propagation round; pointer jumping must
    # converge in ~log2(20) rounds, checked via max_iters), a star, and a
    # disjoint pair
    chain = [(i, i + 1) for i in range(100, 119)]
    star = [(200, x) for x in (201, 202, 203)]
    pair = [(301, 300)]
    edges = spark.createDataFrame(
        pd.DataFrame(chain + star + pair, columns=["id_a", "id_b"])
    )
    # driver_threshold=0 forces the distributed loop (the small-graph
    # driver fast path would otherwise absorb this fixture)
    comp = connected_components(edges, max_iters=8, driver_threshold=0).toPandas()
    got = dict(zip(comp["id"], comp["comp"]))
    assert all(got[i] == 100 for i in range(100, 120))
    assert all(got[i] == 200 for i in (200, 201, 202, 203))
    assert got[300] == 300 and got[301] == 300


def test_connected_components_empty(spark):
    from verde_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0


def test_dedup_minhash_transitive_chain(spark):
    """A~B~C~D sliding-window chain: consecutive Jaccard above threshold,
    ends below it. transitive=True must keep exactly min-id; the round-1
    single-link policy also happens to drop B,C,D here, so additionally
    check the CC labels group all four."""
    from verde_spark.operators.dedup import connected_components

    base = "w%d"
    toks = [base % i for i in range(26)]
    texts = [" ".join(toks[s : s + 14]) for s in (0, 4, 8, 12)]  # overlap 10/14
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12, 13], "text": texts})
    )
    cand = lsh_candidate_pairs(docs, num_hashes=64, bands=32)
    jac = jaccard_pairs(docs, cand).filter(F.col("jaccard") >= 0.5)
    got = set(zip(*jac.toPandas()[["id_a", "id_b"]].T.values.tolist())) if jac.count() else set()
    assert (10, 11) in got and (11, 12) in got and (12, 13) in got
    assert (10, 13) not in got  # ends are NOT direct near-dups
    comp = connected_components(jac).toPandas()
    assert set(comp["comp"]) == {10}  # one transitive family
    kept = dedup_minhash(docs, threshold=0.5, num_hashes=64, bands=32).toPandas()
    assert kept["doc_id"].tolist() == [10]


# --- IVF ANN -------------------------------------------------------------------


def _planted_embeddings(spark, n=300, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    # 4 well-separated direction clusters + noise → IVF recall is testable
    centers = rng.normal(size=(4, dim)) * 5
    vecs = centers[np.arange(n) % 4] + rng.normal(size=(n, dim)) * 0.3
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": [v.tolist() for v in vecs]}
    )
    return spark.createDataFrame(pdf)


def test_ivf_topk_matches_bruteforce_on_clustered_data(spark):
    from verde_spark.operators.similarity import cosine_topk, ivf_topk, train_ivf_centroids

    corpus = _planted_embeddings(spark)
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = train_ivf_centroids(corpus, n_centroids=8, sample_size=300, seed=17)
    assert cents.shape == (8, 16)
    npt.assert_allclose(np.linalg.norm(cents, axis=1), 1.0, rtol=1e-9)
    exact = cosine_topk(corpus, queries, k=5).toPandas()
    # probing every centroid ⇒ recall must be exactly 1 (same result set)
    full = ivf_topk(corpus, queries, k=5, centroids=cents, n_probe=8).toPandas()
    key = lambda d: sorted(zip(d["query_id"], d["neighbor_id"]))
    assert key(full) == key(exact)
    # probing 2 of 8: with 4 well-separated clusters, a query's true
    # neighbors share its cluster → still full recall on this fixture
    part = ivf_topk(corpus, queries, k=5, centroids=cents, n_probe=2).toPandas()
    assert key(part) == key(exact)


def test_ivf_topk_arrow_engine_matches_catalyst(spark):
    # the PRODUCTION probe engine (mapInPandas matmul + in-udf partial
    # top-k) must reproduce the Catalyst oracle path exactly: same
    # candidate set, same (cosine DESC, id ASC) tiebreak; cosines differ
    # only in float64 summation order, so agreement is pinned at 1e-9
    # after rounding and the (query, rank, neighbor) triples must be
    # IDENTICAL
    from verde_spark.operators.similarity import ivf_topk, train_ivf_centroids

    corpus = _planted_embeddings(spark)
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = train_ivf_centroids(corpus, n_centroids=8, sample_size=300, seed=17)
    for n_probe in (2, 8):
        cat = ivf_topk(corpus, queries, k=5, centroids=cents, n_probe=n_probe)
        arw = ivf_topk(
            corpus, queries, k=5, centroids=cents, n_probe=n_probe,
            engine="arrow",
        )
        key = lambda df: sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["cosine"], 9))
            for r in df.collect()
        )
        assert key(cat) == key(arw) and cat.count() == 40
    with pytest.raises(ValueError, match="unknown engine"):
        ivf_topk(corpus, queries, k=5, centroids=cents, engine="numba")


def test_topk_tie_break_is_id_ascending(spark):
    # 20 ids share ONE identical embedding, so cosine ties saturate the
    # k boundary; the Arrow partial top-k must keep the SMALLEST ids —
    # the (cosine DESC, id ASC) contract — not an argpartition-arbitrary
    # tied subset.  Multiple input partitions exercise the cross-batch
    # union + final-window path too.
    from verde_spark.operators.similarity import ivf_topk, train_ivf_centroids

    dup = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, dup) for i in range(20)] + [(100 + i, far) for i in range(10)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(7)
    queries = spark.createDataFrame(
        [(0, dup)], "query_id long, embedding array<double>"
    )
    got = cosine_topk(corpus, queries, k=5).toPandas()
    assert sorted(got["neighbor_id"]) == [0, 1, 2, 3, 4]
    # same law through the IVF arrow probe engine (all ties co-cluster)
    cents = train_ivf_centroids(corpus, n_centroids=2, sample_size=30, seed=17)
    ivf = ivf_topk(
        corpus, queries, k=5, centroids=cents, n_probe=2, engine="arrow"
    ).toPandas()
    assert sorted(ivf["neighbor_id"]) == [0, 1, 2, 3, 4]


def test_ivf_index_partition_pruning(spark, tmp_path):
    from verde_spark.operators.similarity import build_ivf_index, ivf_topk, train_ivf_centroids

    corpus = _planted_embeddings(spark)
    cents = train_ivf_centroids(corpus, n_centroids=4, sample_size=300, seed=17)
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, cents)
    back = spark.read.parquet(path)
    # layout: one directory per cluster; a cluster filter must appear as a
    # partition filter (pruned scan), not a data filter
    assert set(back.columns) == {"vec_id", "embedding", "cluster"}
    plan = back.filter(F.col("cluster") == 0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cluster" in plan
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(back, queries, k=3, centroids=cents, n_probe=4, assigned=True).toPandas()
    assert sorted(got["query_id"].unique()) == [0, 1, 2, 3]
    assert (got.groupby("query_id").size() == 3).all()
    # r5: ivf_topk injects the probed-cluster IN-filter itself, so a
    # narrow probe over the layout STATICALLY prunes unprobed partitions
    # (both engines; the arrow path shown here)
    one = queries.filter(F.col("query_id") == 0)
    res = ivf_topk(
        back, one, k=3, centroids=cents, n_probe=1, assigned=True,
        engine="arrow",
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    # a single probed cluster folds isin -> equality:
    #   PartitionFilters: [isnotnull(cluster#..), (cluster#.. = N)]
    assert "PartitionFilters: [isnotnull(cluster" in plan
    assert res.count() == 3


def test_datasets_standins_feed_the_pipeline(spark):
    """Deprecated datasets surface: deterministic synthetic stand-ins with
    the reference's column schemas, usable end-to-end (decimate a texas
    wind table by block mean over lon/lat)."""
    import warnings

    from verde_spark import block_mean, datasets

    with pytest.warns(FutureWarning):
        wind = datasets.fetch_texas_wind()
    again = None
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        again = datasets.fetch_texas_wind()
        assert wind.equals(again)  # deterministic
        df = spark.createDataFrame(wind)
        dec, _ = block_mean(
            df, spacing=2.0, region=(-107.0, -93.0, 25.5, 37.0),
            easting="longitude", northing="latitude",
            data_cols=("air_temperature_c",),
        )
        out = dec.toPandas()
    assert 10 < len(out) <= 49
    assert out["air_temperature_c"].notna().all()
    with pytest.raises(NotImplementedError):
        datasets.setup_texas_wind_map(None)


# --- sampling / splits ---------------------------------------------------------


def test_stratified_and_deterministic_sample(spark):
    from verde_spark.operators.sampling import deterministic_sample, stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = stratified_sample(docs, "lang", 7).groupBy("lang").count().toPandas()
    assert (got["count"] == 7).all() and len(got) == 5
    # deterministic: same rows at any partitioning
    a = stratified_sample(docs.repartition(3), "lang", 7).select("doc_id").toPandas()
    b = stratified_sample(docs.repartition(17), "lang", 7).select("doc_id").toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    # n larger than a stratum → whole stratum kept
    small = stratified_sample(docs, "lang", 10_000)
    assert small.count() == docs.count()
    # global deterministic sample plans a TakeOrderedAndProject (partial
    # per-partition top-n, no full sort/shuffle of the corpus)
    samp = deterministic_sample(docs, 25)
    assert samp.count() == 25
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    c = deterministic_sample(docs.repartition(5), 25).select("doc_id").toPandas()
    d = deterministic_sample(docs.repartition(11), 25).select("doc_id").toPandas()
    assert sorted(c["doc_id"]) == sorted(d["doc_id"])


def test_hash_split_stability_and_no_shuffle(spark):
    from verde_spark.operators.sampling import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = hash_split(docs, "doc_id", weights=(0.8, 0.1, 0.1)).cache()
    counts = dict(out.groupBy("split").count().toPandas().itertuples(index=False))
    n = docs.count()
    assert 0.7 * n < counts["train"] < 0.9 * n
    assert set(counts) == {"train", "val", "test"}
    # pure projection: no Exchange in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # key-stability: the same key gets the same split in a DIFFERENT table
    # (leakage control across tables sharing the key)
    other = docs.select("doc_id", "lang").repartition(13)
    o = hash_split(other, "doc_id", weights=(0.8, 0.1, 0.1)).select("doc_id", "split").toPandas()
    s = out.select("doc_id", "split").toPandas()
    merged = o.merge(s, on="doc_id", suffixes=("_a", "_b"))
    assert (merged["split_a"] == merged["split_b"]).all()
    out.unpersist()


def test_mask_to_runs(spark):
    from verde_spark.sources.grid_io import mask_to_runs

    rows = []
    #  row 0: ..XX.X  row 1: XXXXXX  row 2: ......
    pattern = {0: [2, 3, 5], 1: [0, 1, 2, 3, 4, 5], 2: []}
    for iy, on in pattern.items():
        for ix in range(6):
            rows.append((iy, ix, ix in on))
    df = spark.createDataFrame(rows, "iy long, ix long, inside boolean")
    got = (
        mask_to_runs(df).orderBy("iy", "start_ix").toPandas()
    )
    assert got.values.tolist() == [
        [0, 2, 3, 2],
        [0, 5, 5, 1],
        [1, 0, 5, 6],
    ]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_random_graphs_vs_union_find(spark, seed):
    """Random sparse graphs: the distributed closure must match a plain
    union-find computed driver-side."""
    from verde_spark.operators.dedup import connected_components

    rng = np.random.RandomState(seed)
    n_nodes, n_edges = 60, 45
    ea = rng.randint(0, n_nodes, n_edges)
    eb = rng.randint(0, n_nodes, n_edges)
    keep = ea != eb
    ea, eb = ea[keep], eb[keep]

    parent = list(range(n_nodes))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(ea, eb):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component, only for touched nodes
    touched = sorted(set(ea.tolist()) | set(eb.tolist()))
    want = {}
    roots = {}
    for x in touched:
        r = find(x)
        roots.setdefault(r, x)  # touched asc → first hit is the min
        want[x] = roots[r]

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": ea.astype("int64"), "id_b": eb.astype("int64")})
    )
    got = connected_components(edges, driver_threshold=0).toPandas()
    assert dict(zip(got["id"], got["comp"])) == want
    # and the driver fast path must agree with the loop exactly
    fast = connected_components(edges).toPandas()
    assert dict(zip(fast["id"], fast["comp"])) == want


@pytest.mark.parametrize("seed", [0, 7])
def test_mask_to_runs_random_vs_naive(spark, seed):
    from verde_spark.sources.grid_io import mask_to_runs

    rng = np.random.RandomState(seed)
    grid = rng.rand(6, 20) < 0.45
    rows = [
        (iy, ix, bool(grid[iy, ix]))
        for iy in range(grid.shape[0]) for ix in range(grid.shape[1])
    ]
    df = spark.createDataFrame(rows, "iy long, ix long, inside boolean")
    got = mask_to_runs(df).orderBy("iy", "start_ix").toPandas().values.tolist()
    want = []
    for iy in range(grid.shape[0]):
        ix = 0
        while ix < grid.shape[1]:
            if grid[iy, ix]:
                start = ix
                while ix < grid.shape[1] and grid[iy, ix]:
                    ix += 1
                want.append([iy, start, ix - 1, ix - start])
            else:
                ix += 1
    assert got == want


def test_main_entrypoint_dedup_and_ivf_jobs(spark, tmp_path, capsys):
    """--job dedup and --job ivf-index through the same spark-submit
    entrypoint (main() invoked in-process against the live session)."""
    import json

    from verde_spark.__main__ import main

    # dedup: plant exact duplicates by doubling a synthesized table
    from verde_spark.sources.pages import synthesize_pages

    src = str(tmp_path / "pages")
    p = synthesize_pages(spark, 100, seed=9)
    p.unionByName(p).write.parquet(src)  # every text exactly duplicated
    out = str(tmp_path / "deduped")
    assert main(["--input", src, "--job", "dedup", "--output", out]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_in"] == 200 and stats["rows_out"] == 100
    assert spark.read.parquet(out).count() == 100

    # ivf-index over the driver embeddings table
    out2 = str(tmp_path / "ivf")
    assert main([
        "--input", "/root/testdata/sf0.01/embeddings.parquet",
        "--job", "ivf-index", "--centroids", "4", "--output", out2,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_centroids"] == 4 and stats["rows"] == 500
    back = spark.read.parquet(out2)
    assert "cluster" in back.columns


def test_lsh_multiprobe_improves_recall(spark):
    """Flip-one-bit multiprobe must be a superset of the single-bucket
    candidates and raise (or match) recall vs exact top-1."""
    from verde_spark.operators.similarity import cosine_topk, lsh_bucketed_topk

    corpus = _planted_embeddings(spark, n=400)
    queries = corpus.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(corpus, queries, k=1).toPandas()
    truth = dict(zip(exact["query_id"], exact["neighbor_id"]))

    def recall(df):
        got = df.toPandas()
        top1 = got[got["rank"] == 1]
        hits = sum(truth[q] == n for q, n in zip(top1["query_id"], top1["neighbor_id"]))
        return hits / len(truth)

    base = lsh_bucketed_topk(corpus, queries, k=1, num_planes=14)
    probed = lsh_bucketed_topk(corpus, queries, k=1, num_planes=14, multiprobe=6)
    r0, r1 = recall(base), recall(probed)
    assert r1 >= r0
    assert r1 > 0.8  # probing 7 buckets on planted clusters: high recall


def test_topk_empty_query_set(spark):
    """Empty probe sets return empty results with the contract schema
    instead of crashing in np.stack."""
    from verde_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, none, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    out2 = ivf_topk(emb, none, k=3, n_centroids=4)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "neighbor_id", "cosine", "rank"]


def test_hash_sample_deterministic_consistent_and_stratified(spark):
    from verde_spark.operators.sampling import hash_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = hash_sample(docs, 0.3, key_col="doc_id").select("doc_id").toPandas()
    b = hash_sample(docs.repartition(13), 0.3, key_col="doc_id").select("doc_id").toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])  # partition-invariant
    assert 0.2 < len(a) / 500 < 0.4
    # cross-table consistency: same keys survive in a projected table
    other = hash_sample(docs.select("doc_id", "lang"), 0.3, key_col="doc_id").toPandas()
    assert sorted(other["doc_id"]) == sorted(a["doc_id"])
    # pure projection: no shuffle
    plan = hash_sample(docs, 0.3, key_col="doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # per-stratum rates
    s = hash_sample(
        docs, {"en": 0.5, "de": 1.0}, key_col="doc_id", strata_col="lang"
    ).groupBy("lang").count().toPandas()
    got = dict(zip(s["lang"], s["count"]))
    assert set(got) == {"en", "de"}  # unlisted strata dropped
    assert got["de"] == 70  # fraction 1.0 keeps the whole stratum
    assert 80 < got["en"] < 140  # ~50% of 218
    with pytest.raises(ValueError, match="strata_col"):
        hash_sample(docs, {"en": 0.5})


def test_runs_mask_roundtrip(spark):
    from verde_spark.sources.grid_io import mask_to_runs, runs_to_mask

    rng = np.random.RandomState(5)
    grid = rng.rand(5, 12) < 0.4
    rows = [
        (iy, ix, bool(grid[iy, ix]))
        for iy in range(grid.shape[0]) for ix in range(grid.shape[1])
    ]
    df = spark.createDataFrame(rows, "iy long, ix long, inside boolean")
    runs = mask_to_runs(df)
    back = runs_to_mask(runs)
    # cells reconstructed exactly = the True cells of the original mask
    want = sorted((iy, ix) for iy in range(5) for ix in range(12) if grid[iy, ix])
    got = sorted(map(tuple, back.select("iy", "ix").toPandas().values.tolist()))
    assert got == want
    # and runs(mask(runs)) is the identity on the run table
    again = mask_to_runs(back).orderBy("iy", "start_ix").toPandas().values.tolist()
    orig = runs.orderBy("iy", "start_ix").toPandas().values.tolist()
    assert again == orig


def test_winnow_fingerprints_matches_numpy_and_guarantee(spark):
    """Winnowing (MOSS): exact parity with a NumPy reimplementation of the
    polynomial-gram + min-window chain, plus the coverage guarantee — two
    docs sharing a substring of >= w+k-1 chars share >= 1 fingerprint —
    and the short-text/identical-copy edge cases."""
    from verde_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    k, w, base = 5, 4, 257
    shared = "the quick brown fox jumps"   # >> w+k-1 = 8 chars
    texts = {
        0: f"AAAA {shared} zz01",
        1: f"completely different start {shared} other tail",
        2: f"AAAA {shared} zz01",           # identical to 0
        3: "unrelated content entirely q9",
        4: "ab",                            # shorter than k -> no fps
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    df = spark.createDataFrame(pdf)
    got = winnow_fingerprints(df, k=k, w=w, base=base).toPandas()
    sets = {i: set(g["fp"]) for i, g in got.groupby("doc_id")}

    def ref_winnow(s):
        s = s.lower()
        kg = [sum(ord(s[i + j]) * base ** (k - 1 - j) for j in range(k))
              for i in range(len(s) - k + 1)]
        return set(min(kg[j:j + w]) for j in range(len(kg) - w + 1))

    for i, t in texts.items():
        assert sets.get(i, set()) == ref_winnow(t) if len(t) >= k + w - 1 else not sets.get(i)
    assert sets[0] == sets[2]                       # identical docs: full overlap
    assert sets[0] & sets[1]                        # guarantee: shared substring
    assert not (sets[3] & sets[0])                  # unrelated: disjoint here

    pairs = winnow_pairs(df, k=k, w=w, min_shared=2).toPandas()
    got_pairs = {(a, b): (n, c) for a, b, n, c in pairs.itertuples(index=False)}
    assert got_pairs[(0, 2)] == (len(sets[0]), 1.0)  # identical: all fps, cont 1
    assert (0, 1) in got_pairs and (1, 2) in got_pairs
    assert got_pairs[(0, 1)][1] < 1.0               # partial overlap < 1
    assert (0, 3) not in got_pairs

    # containment cut keeps only the identical pair
    tight = winnow_pairs(df, k=k, w=w, min_containment=0.99).toPandas()
    assert set(zip(tight["id_a"], tight["id_b"])) == {(0, 2)}

    # max_df prunes fingerprints present in >max_df docs: the shared-phrase
    # fps live in docs {0,1,2} so max_df=2 kills the cross pairs but the
    # identical pair (0,2) still shares its unique non-phrase fps.
    pruned = winnow_pairs(df, k=k, w=w, min_shared=1, max_df=2).toPandas()
    pruned_pairs = set(zip(pruned["id_a"], pruned["id_b"]))
    assert (0, 2) in pruned_pairs
    assert (0, 1) not in pruned_pairs and (1, 2) not in pruned_pairs


def test_winnow_fingerprints_plan_zero_shuffle(spark):
    """The fingerprint extraction must stay a projection + Generate —
    no Exchange, no Python/pandas nodes (scale contract: embarrassingly
    parallel over the corpus)."""
    from verde_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = winnow_fingerprints(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_winnow_contained_copy(spark):
    """A document embedded verbatim inside a longer one has winnow
    containment 1.0 but low shingle-Jaccard — dedup_winnow drops it,
    the Jaccard-threshold path would not."""
    from verde_spark.operators.dedup import dedup_winnow, winnow_pairs

    core = "the quick brown fox jumps over the lazy dog near the river"
    filler = " ".join(f"filler{i} padding{i} noise{i}" for i in range(20))
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [core, f"{filler} {core} {filler}", "something else entirely x7"],
    })
    df = spark.createDataFrame(pdf)
    pairs = winnow_pairs(df, min_shared=2).toPandas()
    cont = {(a, b): c for a, b, _, c in pairs.itertuples(index=False)}
    assert cont[(0, 1)] == 1.0                    # full containment
    kept = dedup_winnow(df, min_containment=0.9).toPandas()
    assert sorted(kept["doc_id"]) == [0, 2]       # min-id survives, container dropped


def test_winnow_arrow_engine_bit_identical(spark):
    """The vectorized NumPy engine produces EXACTLY the interpreted-
    Catalyst engine's fingerprint sets (same polynomial hash, same window
    minima) — including unicode text, texts shorter than k, and texts with
    fewer than w grams — and its plan is Arrow-batched with zero shuffle."""
    from verde_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    edge = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [9001, 9002, 9003, 9004],
            "text": ["ab", "abcdefg", "Ünïcødé tèxt ünïcødé tèxt", ""],
        })
    )
    both = docs.unionByName(edge)
    cat = winnow_fingerprints(both, engine="catalyst").toPandas()
    arr = winnow_fingerprints(both, engine="arrow").toPandas()
    key = ["doc_id", "fp"]
    pd.testing.assert_frame_equal(
        cat.sort_values(key).reset_index(drop=True),
        arr.sort_values(key).reset_index(drop=True),
    )

    plan = (
        winnow_fingerprints(docs, engine="arrow")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan and "Exchange" not in plan

    p_cat = winnow_pairs(both, min_shared=2, engine="catalyst").toPandas()
    p_arr = winnow_pairs(both, min_shared=2, engine="arrow").toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        p_cat.sort_values(key).reset_index(drop=True),
        p_arr.sort_values(key).reset_index(drop=True),
    )


def test_minhash_simhash_arrow_engines_bit_identical(spark):
    """The vectorized NumPy signature engines equal the Catalyst
    aggregates exactly — coefficients come from one shared derivation and
    the modular arithmetic stays < 2^62 (int64-exact) — including null
    text, empty text, and shorter-than-shingle docs."""
    from verde_spark.functions.text import shingles
    from verde_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        minhash_udf,
        simhash_signatures,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    edge = spark.createDataFrame(
        [(9001, "ab"), (9002, "one two"), (9003, ""), (9004, None)],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)

    cat = both.select("doc_id", minhash_signature(shingles("text")).alias("sig"))
    arr = both.select("doc_id", minhash_udf()(shingles("text")).alias("sig"))
    pd.testing.assert_frame_equal(
        cat.orderBy("doc_id").toPandas(), arr.orderBy("doc_id").toPandas()
    )

    s_cat = simhash_signatures(both, engine="catalyst")
    s_arr = simhash_signatures(both, engine="arrow")
    pd.testing.assert_frame_equal(
        s_cat.orderBy("doc_id").toPandas(), s_arr.orderBy("doc_id").toPandas()
    )

    p_cat = lsh_candidate_pairs(docs, engine="catalyst").toPandas()
    p_arr = lsh_candidate_pairs(docs, engine="arrow").toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        p_cat.sort_values(key).reset_index(drop=True),
        p_arr.sort_values(key).reset_index(drop=True),
    )


def test_drop_duplicate_paragraphs_c4_style(spark):
    """Corpus-hot paragraphs vanish everywhere, order preserved, empty
    and all-boilerplate docs survive with '' — matched against a plain
    pandas reference of the same spec."""
    from collections import Counter

    from verde_spark.operators.dedup import (
        drop_duplicate_paragraphs,
        duplicate_paragraph_stats,
    )

    docs = [
        (1, "alpha one\nSHARED FOOTER\nbeta one"),
        (2, "gamma two\nSHARED FOOTER"),
        (3, "SHARED FOOTER"),
        (4, "delta four\n\nepsilon four"),
        (5, "self dup\nself dup\nunique tail"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    counts = Counter(
        p for _, t in docs for p in t.split("\n") if p != ""
    )
    want = {
        i: "\n".join(p for p in t.split("\n") if p != "" and counts[p] < 2)
        for i, t in docs
    }
    got = {
        r["doc_id"]: r["text_clean"]
        for r in drop_duplicate_paragraphs(df).collect()
    }
    assert got == want
    assert got[3] == "" and got[6] == ""
    assert got[5] == "unique tail"  # self-repeats count globally
    assert got[4] == "delta four\nepsilon four"  # empties dropped

    stats = {
        r["paragraph"]: r["n_occurrences"]
        for r in duplicate_paragraph_stats(df).collect()
    }
    assert stats == {"SHARED FOOTER": 3, "self dup": 2}

    # text column untouched; output is partition-invariant
    out = drop_duplicate_paragraphs(df.repartition(5))
    assert out.filter(F.col("text").isNull()).count() == 0
    got2 = {r["doc_id"]: r["text_clean"] for r in out.collect()}
    assert got2 == want


def test_clean_corpus_recipe(spark):
    """The webtext flagship recipe: url-dedup → quality gates → exact
    dedup (→ optional MinHash) over a messy synthesized corpus; exactly
    the planted survivors remain and the plan stays two shuffles."""
    from verde_spark.pipelines import clean_corpus

    good = "the cat sat on the mat and it is a fine day for walking in the park today"
    rows = []
    for i in range(20):  # 20 good docs, each recrawled once under a url variant
        rows.append((f"http://Example.com:80/p{i}?utm_source=a", f"2024-01-01 00:00:{i:02d}", f"{good} {i}"))
        rows.append((f"http://example.com/p{i}", f"2024-01-02 00:00:{i:02d}", f"{good} {i}"))
    rows.append(("http://example.com/dupe1", "2024-01-01 00:00:00", f"{good} 0"))  # exact copy of doc 0
    rows.append(("http://example.com/short", "2024-01-01 00:00:00", "too short"))
    rows.append(("http://example.com/spam", "2024-01-01 00:00:00", "buy now " * 30))
    rows.append(("http://example.com/soup", "2024-01-01 00:00:00",
                 "widget gadget sprocket flange bracket gizmo doodad thingy contraption apparatus"))
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string").withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )

    out = clean_corpus(df, min_tokens=5, min_stopword_ratio=0.2, max_repetition=0.5)
    kept = out.orderBy("url").collect()
    # 20 canonical urls survive url-dedup (latest recrawl wins), the
    # exact-copy dupe1 dies in content dedup, junk dies in the gates
    texts = sorted(r["text"] for r in kept)
    assert texts == sorted(f"{good} {i}" for i in range(20))
    # latest recrawl won each canonical-url group; the exact-content pass
    # then keeps the MIN-id representative per text — doc 0's text
    # surfaces under 'dupe1' (lexicographically below 'p0')
    assert {r["url"] for r in kept} == {"http://example.com/dupe1"} | {
        f"http://example.com/p{i}" for i in range(1, 20)
    }
    assert {"n_tokens", "sw_ratio", "rep_ratio", "quality"} <= set(out.columns)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # near-dup pass composes (no numeric id column needed)
    nd = clean_corpus(df, min_tokens=5, near_dup=True)
    assert nd.count() <= out.count()
    assert "__docid" not in nd.columns

    # html-only table: text gets extracted first
    html_df = df.select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body><p>"), "text", F.lit("</p></body></html>")).cast("binary").alias("html"),
    )
    out2 = clean_corpus(html_df, min_tokens=5, min_stopword_ratio=0.2, max_repetition=0.5)
    assert sorted(r["text"] for r in out2.collect()) == texts


def test_main_entrypoint_clean_job(spark, tmp_path, capsys):
    """--job clean runs the composed front door through spark-submit's
    entrypoint: recrawled url variants collapse and quality columns ride
    along in the output parquet."""
    import json as _json

    from verde_spark.__main__ import main

    src = str(tmp_path / "pages_in")
    pages = synthesize_pages(spark, 400)
    # every page recrawled once under a tracking-param variant
    variant = pages.withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm_source=x"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    pages.unionByName(variant).write.parquet(src)

    out = str(tmp_path / "cleaned")
    rc = main(["--input", src, "--output", out, "--job", "clean",
               "--threshold", "1.0", "--min-tokens", "3"])
    assert rc == 0
    metrics = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["rows_in"] == 800 and metrics["rows_out"] == 400
    cleaned = spark.read.parquet(out)
    assert {"n_tokens", "sw_ratio", "rep_ratio", "quality"} <= set(cleaned.columns)
    # latest crawl (the variant, +1 day) won every group
    assert cleaned.filter(~F.col("url").contains("utm_source")).count() == 0


def test_shingles_null_text(spark):
    # Pinned contract (ADVICE r3): NULL text -> NULL gram array (not []),
    # so null docs never gain near-dup candidacy; empty text -> [].
    from verde_spark.functions.text import shingles

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "one two three four")], "id long, t string"
    )
    got = {
        r["id"]: r["g"] for r in df.select("id", shingles("t", n=3).alias("g")).collect()
    }
    assert got[0] is None
    assert got[1] == []
    assert len(got[2]) == 2


def test_corpus_report(spark):
    """One-pass corpus profile: per-language rows + ALL rollup, exact dup
    rate via 64-bit content hashes, mean quality; lang_col override and
    non-default text column (dogfood) both work."""
    from verde_spark.functions.text import quality_score, token_count
    from verde_spark.pipelines import corpus_report

    en = "the cat and the dog sat on the mat and it is a fine day"
    de = "der hund und die katze ist und das war der die und das"
    rows = [(en + f" {i}",) for i in range(4)] + [(de + f" {i}",) for i in range(3)]
    rows.append((en + " 0",))  # exact duplicate of the first en doc
    df = spark.createDataFrame(rows, "body string")

    rep = {r["lang"]: r for r in corpus_report(df, text_col="body").collect()}
    assert set(rep) == {"ALL", "en", "de"}
    assert rep["en"]["n_docs"] == 5 and rep["en"]["n_unique_texts"] == 4
    assert rep["de"]["n_docs"] == 3 and rep["de"]["n_unique_texts"] == 3
    assert rep["ALL"]["n_docs"] == 8 and rep["ALL"]["n_unique_texts"] == 7
    assert abs(rep["en"]["dup_rate"] - 0.2) < 1e-9
    assert rep["de"]["dup_rate"] == 0.0
    # token/char sums and avg quality match independent per-doc expressions
    feats = df.select(
        token_count("body").cast("long").alias("t"),
        F.length("body").cast("long").alias("c"),
        quality_score("body").alias("q"),
    ).collect()
    assert rep["ALL"]["n_tokens"] == sum(r["t"] for r in feats)
    assert rep["ALL"]["n_chars"] == sum(r["c"] for r in feats)
    assert abs(rep["ALL"]["avg_quality"] - sum(r["q"] for r in feats) / 8) < 1e-6

    # explicit lang column skips detection; approx mode still counts docs
    tagged = df.withColumn("language", F.lit("xx"))
    rep2 = {
        r["lang"]: r
        for r in corpus_report(
            tagged, text_col="body", lang_col="language", exact_unique=False
        ).collect()
    }
    assert set(rep2) == {"ALL", "xx"}
    assert rep2["xx"]["n_docs"] == 8
    # HLL++ sketch is approximate but single-digit-% on 7 values
    assert 5 <= rep2["xx"]["n_unique_texts"] <= 9

    # one job: a single Expand+aggregate, no Python in the plan
    plan = (
        corpus_report(df, text_col="body")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


_GOPHER_TEXTS = [
    None,
    "",
    "   ",
    "the cat and the dog sat on the mat because it is a fine day "
    "and everyone is happy to walk in the park for a while today "
    "with friends and family members who all enjoy the fresh air "
    "and the quiet paths that wind between the old tall trees here",
    "- one\n- two\n- three\n* four",
    "this line trails off...\nand this one too…\nbut not this one",
    "buy ### now # cheap ### deals #",
    "12345 67890 11 22 33 44 55 66 77 88 99 00",
    "\tword1  word2\nword3\t",
    # CRLF + trailing newline (review r5): \r must not become a phantom
    # word, and the ellipsis rule must fire on a \r-terminated line in
    # all three engines
    "this line trails off...\r\nand a second real line here\r\n",
]


def test_gopher_signals_three_engine_parity(spark):
    """gopher_signals: Catalyst == Python reference == DuckDB twin,
    bit-for-bit, across nulls/empties/bullets/ellipses/symbols/tabs."""
    import duckdb

    from verde_spark.functions.text import (
        gopher_signals,
        gopher_signals_sql,
        reference_gopher_signals,
    )

    rows = [(i, t) for i, t in enumerate(_GOPHER_TEXTS)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: r["s"] and r["s"].asDict()
        for r in df.select("i", gopher_signals("t").alias("s")).collect()
    }
    for i, t in rows:
        ref = reference_gopher_signals(t)
        if ref is None:
            assert got[i] is None, (i, got[i])
            continue
        for k, v in ref.items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    con = duckdb.connect()
    con.register("t_tbl", pd.DataFrame(rows, columns=["i", "t"]))
    fields = gopher_signals_sql("t")
    sel = ", ".join(f'{sql} AS "{k}"' for k, sql in fields.items())
    for r in con.execute(f"select i, {sel} from t_tbl").fetchall():
        i, vals = r[0], dict(zip(fields.keys(), r[1:]))
        if got[i] is None:
            continue  # SQL twin is only defined for non-null text
        for k, v in vals.items():
            assert got[i][k] == pytest.approx(v, abs=0, rel=0), (i, k)


def test_passes_gopher_gate(spark):
    from verde_spark.functions.text import passes_gopher

    rows = [(i, t) for i, t in enumerate(_GOPHER_TEXTS)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: r["p"]
        for r in df.select("i", passes_gopher("t").alias("p")).collect()
    }
    assert got[3] is True                      # long natural prose passes
    assert all(got[i] is False for i in got if i != 3)
    # threshold overrides: a short prose doc fails the 50-word floor by
    # default but passes once the floor is lowered
    short = spark.createDataFrame(
        [("the tiger sat near the fence today",)], "t string"
    )
    assert short.select(passes_gopher("t").alias("p")).first()["p"] is False
    assert (
        short.select(
            passes_gopher("t", min_words=3, min_stopword_hits=1).alias("p")
        ).first()["p"]
        is True
    )
    with pytest.raises(ValueError, match="unknown gopher"):
        passes_gopher("t", min_wordz=1)


def test_clean_corpus_gopher_stage(spark):
    from verde_spark.pipelines import clean_corpus

    good = _GOPHER_TEXTS[3]
    rows = []
    for i in range(20):
        text = good + f" number {i}" if i % 2 == 0 else "buy ### now # " * 10
        rows.append((f"https://site{i % 2}.com/p{i}", "2024-01-01 00:00:00", text))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = clean_corpus(pages, min_tokens=3, gopher=True).collect()
    assert len(out) == 10 and all("site0" in r["url"] for r in out)


_C4_TEXTS = [
    None,
    "",
    "No terminal punctuation here\nso nothing survives the line filter",
    "This first sentence is kept here. And the second one is too!\n"
    "Is the third a question? The fourth ends with a quote: \"done.\"\n"
    "And a fifth sentence closes the page.",
    "Please enable Javascript to view this page.\nA real sentence stays here.",
    "lorem ipsum dolor sit amet.\nAnother fine sentence follows it.",
    "A config block { key: value } appears here.\nPlain prose elsewhere.",
    "short.\nalso no.\nThis one carries enough words to stay.",
    "Trailing blanks still count here.   \nTab\tseparated words end fine.\t.",
    # CRLF page (review r5): Java's $ matches before a trailing \r (a
    # line terminator there), Python/RE2 do not — the shared patterns
    # must consume the \r explicitly or the engines disagree on every
    # CRLF document
    "This is a proper sentence ending well.\r\n"
    "Another good line follows here too.\r\n"
    "A third one makes the count grow.\r\n",
]


def test_c4_signals_three_engine_parity(spark):
    """c4_signals: Catalyst == Python reference == DuckDB twin,
    bit-for-bit, across nulls/empties/javascript/lorem/brace/quote
    fixtures."""
    import duckdb

    from verde_spark.functions.text import (
        c4_signals,
        c4_signals_sql,
        reference_c4_signals,
    )

    rows = [(i, t) for i, t in enumerate(_C4_TEXTS)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: r["s"] and r["s"].asDict()
        for r in df.select("i", c4_signals("t").alias("s")).collect()
    }
    for i, t in rows:
        ref = reference_c4_signals(t)
        if ref is None:
            assert got[i] is None, (i, got[i])
            continue
        for k, v in ref.items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    con = duckdb.connect()
    con.register("t_tbl", pd.DataFrame(rows, columns=["i", "t"]))
    fields = c4_signals_sql("t")
    sel = ", ".join(f'{sql} AS "{k}"' for k, sql in fields.items())
    for r in con.execute(f"select i, {sel} from t_tbl").fetchall():
        i, vals = r[0], dict(zip(fields.keys(), r[1:]))
        if got[i] is None:
            continue  # SQL twin is only defined for non-null text
        for k, v in vals.items():
            assert got[i][k] == v, (i, k, got[i][k], v)


def test_passes_c4_gate_and_filtered_text(spark):
    from verde_spark.functions.text import c4_filtered_text, passes_c4

    rows = [(i, t) for i, t in enumerate(_C4_TEXTS)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (r["p"], r["ft"])
        for r in df.select(
            "i",
            passes_c4("t").alias("p"),
            c4_filtered_text("t").alias("ft"),
        ).collect()
    }
    # only the 5-sentence page passes the defaults; lorem/brace pages
    # fail on the page predicates even with enough sentences
    assert got[3][0] is True
    assert all(got[i][0] is False for i in got if i != 3)
    assert got[0][1] is None and got[1][1] == ""          # null/empty text
    assert got[4][1] == "A real sentence stays here."     # js line dropped
    assert got[7][1] == "This one carries enough words to stay."
    # threshold override + badwords arm
    relaxed = passes_c4("t", min_sentences=2)
    got2 = {r["i"]: r["p"] for r in df.select("i", relaxed.alias("p")).collect()}
    assert got2[8] is True and got2[3] is True
    bad = passes_c4("t", min_sentences=2, badwords=("tab",))
    got3 = {r["i"]: r["p"] for r in df.select("i", bad.alias("p")).collect()}
    assert got3[8] is False and got3[3] is True
    with pytest.raises(ValueError, match="unknown c4"):
        passes_c4("t", min_sentencez=1)


def test_clean_corpus_c4_stage(spark):
    from verde_spark.pipelines import clean_corpus

    junk = "no punctuation and the of to is a line that never ends"
    rows = []
    for i in range(20):
        # even docs: the 5-sentence page plus one nav-junk line (dropped
        # by the line filter, so text_c4 differs from text) and a unique
        # suffix sentence; odd docs: no terminal punctuation at all
        text = (
            _C4_TEXTS[3] + f"\nnav menu footer links\nUnique suffix number {i}."
            if i % 2 == 0
            else junk
        )
        rows.append((f"https://site{i % 2}.com/p{i}", "2024-01-01 00:00:00", text))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = clean_corpus(pages, min_tokens=3, c4=True).collect()
    assert len(out) == 10 and all("site0" in r["url"] for r in out)
    # the line-cleaned body lands in a NEW column; text is untouched
    assert all(r["text"].startswith("This first sentence") for r in out)
    assert all(r["text_c4"].startswith("This first sentence") for r in out)
    assert all(r["text_c4"] != r["text"] for r in out)


def _ref_span_dedup(rows, n=3):
    """Greedy Python reference for drop_duplicate_spans: first (id, pos)
    occurrence of each duplicated n-sentence span wins; every sentence
    of a losing span is removed."""
    import re

    sents = {
        i: [s.strip(" ") for s in re.findall(r"[^.!?]+[.!?]+", t or "")]
        for i, t in rows
    }
    occ = {}
    for i, t in sorted(rows):
        for j in range(max(len(sents[i]) - n + 1, 0)):
            occ.setdefault(" ".join(sents[i][j : j + n]), []).append((i, j))
    removed = {
        (i, j + d)
        for places in occ.values()
        if len(places) >= 2
        for i, j in places[1:]
        for d in range(n)
    }
    return {
        i: " ".join(
            s for j, s in enumerate(sents[i]) if (i, j) not in removed
        )
        for i, _ in rows
    }


def test_drop_duplicate_spans_matches_greedy_reference(spark):
    from verde_spark.operators.dedup import drop_duplicate_spans

    boiler = ("Subscribe to our newsletter today! "
              "Your privacy matters to us. "
              "Unsubscribe at any time.")
    rows = []
    for i in range(8):
        body = f"Document {i} opens with its own words. It continues uniquely here. "
        if i % 2 == 0:
            body += boiler + f" A distinct closing thought number {i}."
        else:
            body += f"A calm ending number {i}."
        rows.append((i, body))
    rows.append((8, None))
    rows.append((9, "no terminal punctuation at all"))
    rows.append((10, "Short. Too short."))  # < 3 sentences: untouched
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_spandedup"]
        for r in drop_duplicate_spans(df).collect()
    }
    ref = _ref_span_dedup(rows)
    assert got == ref, {k: (got[k], ref[k]) for k in got if got[k] != ref[k]}
    # the boilerplate block survives exactly once (in doc 0) and each
    # doc keeps its unique opening
    assert "Subscribe" in got[0]
    assert all("Subscribe" not in got[i] for i in (2, 4, 6))
    assert all(f"Document {i} opens" in got[i] for i in range(8))
    assert got[8] == "" and got[9] == "" and got[10] == "Short. Too short."


# -- incremental dedup vs a prior snapshot --------------------------------

def test_novel_docs_anti_join(spark):
    from verde_spark.operators.dedup import novel_docs, seen_hashes

    old = spark.createDataFrame(
        [(i, f"old document number {i}") for i in range(20)],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        # 10 carried over (same text), 10 genuinely new
        [(100 + i, f"old document number {i}") for i in range(10)]
        + [(200 + i, f"fresh document number {i}") for i in range(10)],
        "doc_id int, text string",
    )
    seen = seen_hashes(old)
    got = novel_docs(new, seen)
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == [200 + i for i in range(10)]
    assert got.columns == ["doc_id", "text"]  # helper column dropped

    # broadcast path: same rows, and the anti-join broadcasts
    bc = novel_docs(new, seen, broadcast_threshold=1000)
    assert sorted(r["doc_id"] for r in bc.collect()) == ids
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_novel_docs_matches_duckdb_not_exists(spark):
    """Oracle semantics: NOT EXISTS on raw text (the minhash contract —
    DuckDB dedups raw strings, Spark their 64-bit hashes)."""
    import duckdb
    import pandas as pd

    from verde_spark.operators.dedup import novel_docs, seen_hashes

    old_rows = [(i, f"doc {i % 7}") for i in range(14)]
    new_rows = [(50 + i, f"doc {i}") for i in range(12)]
    old = spark.createDataFrame(old_rows, "doc_id int, text string")
    new = spark.createDataFrame(new_rows, "doc_id int, text string")
    got = sorted(
        r["doc_id"] for r in novel_docs(new, seen_hashes(old)).collect()
    )
    con = duckdb.connect()
    con.register("old_t", pd.DataFrame(old_rows, columns=["doc_id", "text"]))
    con.register("new_t", pd.DataFrame(new_rows, columns=["doc_id", "text"]))
    want = [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM new_t n WHERE NOT EXISTS "
            "(SELECT 1 FROM old_t o WHERE o.text = n.text) ORDER BY doc_id"
        ).fetchall()
    ]
    assert got == want


def test_clean_corpus_novel_against_stage(spark):
    """novel_against= as a clean_corpus stage: texts already in the
    prior snapshot's hash set are dropped; genuinely new pages pass."""
    from verde_spark.operators.dedup import seen_hashes
    from verde_spark.pipelines import clean_corpus

    good = "the cat sat on the mat and it is a fine day for walking"
    old = spark.createDataFrame(
        [(f"https://a.com/old{i}", f"2024-01-01 00:00:{i:02d}", f"{good} old {i}")
         for i in range(5)],
        "url string, warc_ts string, text string",
    )
    new_rows = (
        [(f"https://a.com/re{i}", f"2024-01-02 00:00:{i:02d}", f"{good} old {i}")
         for i in range(3)]  # recrawls of old content, new urls
        + [(f"https://a.com/new{i}", f"2024-01-02 00:01:{i:02d}", f"{good} new {i}")
           for i in range(4)]
    )
    new = spark.createDataFrame(
        new_rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    out = clean_corpus(
        new, min_tokens=3, novel_against=seen_hashes(old)
    ).collect()
    urls = sorted(r["url"] for r in out)
    assert urls == [f"https://a.com/new{i}" for i in range(4)]
