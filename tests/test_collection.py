"""Item-op tests (SURVEY.md §2.2 A1-A7, A12) on a small collection."""

import pytest

from chroma_rs_spark.errors import (
    DimensionMismatchError,
    DuplicateIDError,
    InvalidFilterError,
)


@pytest.fixture()
def coll(engine):
    c = engine.create_collection("items", {"hnsw:space": "cosine"})
    c.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        documents=["alpha doc", "beta doc", "gamma text"],
        metadatas=[{"label": "1"}, {"label": "2"}, {"label": "1"}],
    )
    return c


def test_add_and_count(coll):
    assert coll.count() == 3


def test_add_duplicate_id_errors(coll):
    with pytest.raises(DuplicateIDError):
        coll.add(ids=["a"], embeddings=[[1.0, 2.0]])
    with pytest.raises(DuplicateIDError):
        coll.add(ids=["x", "x"], embeddings=[[1.0, 2.0], [1.0, 2.0]])


def test_dim_enforced(coll):
    with pytest.raises(DimensionMismatchError):
        coll.add(ids=["d"], embeddings=[[1.0, 2.0, 3.0]])


def test_get_with_filters(coll):
    got = coll.get(where={"label": "1"}).collect()
    assert [r["id"] for r in got] == ["a", "c"]
    got = coll.get(where_document={"$contains": "doc"}).collect()
    assert [r["id"] for r in got] == ["a", "b"]
    got = coll.get(limit=2, offset=1).collect()
    assert [r["id"] for r in got] == ["b", "c"]


def test_peek(coll):
    assert len(coll.peek(limit=2).collect()) == 2


def test_upsert(coll):
    coll.upsert(ids=["c", "d"], embeddings=[[9.0, 9.0], [0.5, 0.5]],
                documents=["gamma v2", "delta doc"])
    assert coll.count() == 4
    got = {r["id"]: r["document"] for r in coll.get().collect()}
    assert got["c"] == "gamma v2" and got["d"] == "delta doc"


def test_update_patches_columns(coll):
    coll.update(ids=["a"], documents=["alpha v2"])
    got = {r["id"]: r for r in coll.get(include=("documents", "embeddings")).collect()}
    assert got["a"]["document"] == "alpha v2"
    assert got["a"]["embedding"] == [1.0, 0.0]  # unchanged


def test_delete_by_ids_and_where(coll):
    coll.delete(ids=["a"])
    assert coll.count() == 2
    coll.delete(where={"label": "1"})
    assert coll.count() == 1
    with pytest.raises(InvalidFilterError):
        coll.delete()


def test_query_knn_cosine(coll):
    res = coll.query([[1.0, 0.1]], n_results=2).collect()
    assert [r["id"] for r in res] == ["a", "c"]
    assert res[0]["rank"] == 1 and res[0]["distance"] < res[1]["distance"]
    assert res[0]["document"] == "alpha doc"


def test_query_with_filter(coll):
    res = coll.query([[1.0, 0.1]], n_results=3, where={"label": "2"}).collect()
    assert [r["id"] for r in res] == ["b"]


def test_add_df_bulk(engine, spark):
    c = engine.create_collection("bulk")
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "id INT, embedding ARRAY<FLOAT>"
    )
    c.add_df(df)
    assert c.count() == 50


def test_partitioned_collection_prunes_and_roundtrips(engine):
    c = engine.create_collection(
        "parted", {"hnsw:space": "l2"}, partition_by="lang"
    )
    c.add(
        ids=["a", "b", "c", "d"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [2.0, 0.0]],
        documents=["ein text", "one text", "deux mots", "zwei texte"],
        metadatas=[
            {"lang": "de"},
            {"lang": "en"},
            {"lang": "fr"},
            {"lang": "de"},
        ],
    )
    # layout: one hive directory per partition value
    import os

    data = engine.data_path(c.id)
    assert sorted(d for d in os.listdir(data) if d.startswith("_part=")) == [
        "_part=de",
        "_part=en",
        "_part=fr",
    ]
    # filtered get prunes partitions at the scan
    got = c.get(where={"lang": "de"}, include=("metadatas",))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_part" in plan
    assert {r["id"] for r in got.collect()} == {"a", "d"}
    # $in and $and shapes prune too
    p2 = c.get(where={"$and": [{"lang": {"$in": ["de", "fr"]}}, {"lang": {"$ne": "xx"}}]})
    assert {r["id"] for r in p2.collect()} == {"a", "c", "d"}
    # query under a partition filter returns the partition's neighbors
    res = c.query([[1.0, 0.0]], n_results=2, where={"lang": "de"}).collect()
    assert [r["id"] for r in res] == ["a", "d"]
    # mutation keeps the partitioned layout consistent
    c.upsert(ids=["e"], embeddings=[[3.0, 3.0]], metadatas=[{"lang": "en"}])
    c.delete(where={"lang": "fr"})
    assert c.count() == 4
    assert {r["id"] for r in c.get(where={"lang": "en"}).collect()} == {"b", "e"}
    assert not any(
        d == "_part=fr" and os.listdir(os.path.join(data, d))
        for d in os.listdir(data)
        if d.startswith("_part=")
    )


def test_partitioned_empty_string_value_not_lost(engine):
    from chroma_rs_spark.errors import CollectionExistsError
    import pytest as _pt

    c = engine.create_collection("parted_edge", partition_by="lang")
    c.add(
        ids=["a", "b"],
        embeddings=[[1.0, 0.0], [0.0, 1.0]],
        metadatas=[{"lang": ""}, {"lang": "en"}],
    )
    # hive writes "" as __HIVE_DEFAULT_PARTITION__ and reads it back as
    # null; pruning must stand down so the metadata predicate still wins
    assert {r["id"] for r in c.get(where={"lang": ""}).collect()} == {"a"}
    assert {r["id"] for r in c.get(where={"lang": "en"}).collect()} == {"b"}
    # layout mismatch on get_or_create is an error, not a silent downgrade
    with _pt.raises(CollectionExistsError):
        engine.create_collection("parted_edge", get_or_create=True, partition_by="source")
    # same partition_by is idempotent
    again = engine.create_collection("parted_edge", get_or_create=True, partition_by="lang")
    assert again.id == c.id


def test_partition_pruning_through_or(engine):
    c = engine.create_collection("parted_or", partition_by="lang")
    c.add(
        ids=["a", "b", "c"],
        embeddings=[[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        documents=["x one", "y two", "z three"],
        metadatas=[{"lang": "de"}, {"lang": "en"}, {"lang": "fr"}],
    )
    # $or of equalities on the key prunes to the union of values
    got = c.get(where={"$or": [{"lang": "de"}, {"lang": {"$eq": "fr"}}]})
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_part" in plan
    assert {r["id"] for r in got.collect()} == {"a", "c"}
    # an $or branch on a different field defeats the prune but not the result
    got2 = c.get(where={"$or": [{"lang": "de"}, {"other": "zz"}]})
    plan2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "_part IN" not in plan2 and "_part = " not in plan2.replace("isnotnull", "")
    assert {r["id"] for r in got2.collect()} == {"a"}


def test_boolean_metadata_roundtrip(engine):
    """add(metadatas={'flag': True}) must be matchable by
    where={'flag': True} — storage and filter coercion use the same
    lowercase boolean encoding (ADVICE r1)."""
    c = engine.create_collection("boolmeta")
    c.add(
        ids=["t", "f"],
        embeddings=[[1.0, 0.0], [0.0, 1.0]],
        metadatas=[{"flag": True}, {"flag": False}],
    )
    assert [r["id"] for r in c.get(where={"flag": True}).collect()] == ["t"]
    assert [r["id"] for r in c.get(where={"flag": False}).collect()] == ["f"]
    res = c.query([[1.0, 0.0]], n_results=2, where={"flag": True}).collect()
    assert [r["id"] for r in res] == ["t"]


def test_query_skips_null_embedding_items(coll):
    """Doc-only items (no embedding) must not occupy top ranks with
    NULL distances (ADVICE r1)."""
    coll.add(ids=["doconly"], documents=["no vector here"])
    res = coll.query([[1.0, 0.1]], n_results=4).collect()
    ids = [r["id"] for r in res]
    assert "doconly" not in ids
    assert ids == ["a", "c", "b"]
    assert all(r["distance"] is not None for r in res)


def test_update_missing_id_raises(coll):
    from chroma_rs_spark.errors import IDNotFoundError

    with pytest.raises(IDNotFoundError):
        coll.update(ids=["nope"], documents=["ghost"])
    # existing ids still update fine after the guard
    coll.update(ids=["a"], documents=["alpha v3"])
    got = {r["id"]: r["document"] for r in coll.get().collect()}
    assert got["a"] == "alpha v3"


def test_numeric_partition_value_not_dropped(engine):
    """Partition pruning must stand down for non-string comparands:
    stored map value str(3) lands in _part=3 but a numeric where
    comparand would prune to _part IN ('3.0') (ADVICE r1)."""
    c = engine.create_collection(
        "numpart", {"partition_by": "v"}
    )
    c.add(
        ids=["x", "y"],
        embeddings=[[1.0, 0.0], [0.0, 1.0]],
        metadatas=[{"v": 3}, {"v": 4}],
    )
    got = c.get(where={"v": 3.0}).collect()
    assert [r["id"] for r in got] == ["x"]
    got = c.get(where={"v": 3}).collect()
    assert [r["id"] for r in got] == ["x"]


def test_overwrite_crash_between_renames_promotes_new_state(coll, engine):
    """Simulate _overwrite dying between its two renames (live dir
    moved aside, committed tmp not yet promoted): the next read must
    surface the NEW state, not lose the collection."""
    import os

    from chroma_rs_spark import collection as C

    path = engine.data_path(coll.id)
    # build the new state exactly as upsert would, but stop mid-swap
    new = C.items_df(engine, coll).filter("id <> 'c'")
    C._write(engine, coll, new, path + ".__tmp", "overwrite")
    assert os.path.isfile(os.path.join(path + ".__tmp", "_SUCCESS"))
    os.replace(path, path + ".__old")  # crash point: no live dir

    got = {r["id"] for r in C.items_df(engine, coll).select("id").collect()}
    assert got == {"a", "b"}
    assert not os.path.isdir(path + ".__tmp")
    assert not os.path.isdir(path + ".__old")


def test_overwrite_crash_mid_write_restores_old_state(coll, engine):
    """Simulate a crash while the temp dir was still being written (no
    _SUCCESS marker): the previous complete state must be restored."""
    import os

    from chroma_rs_spark import collection as C

    path = engine.data_path(coll.id)
    os.makedirs(path + ".__tmp")  # half-written: no _SUCCESS
    os.replace(path, path + ".__old")

    got = {r["id"] for r in C.items_df(engine, coll).select("id").collect()}
    assert got == {"a", "b", "c"}
    assert not os.path.isdir(path + ".__tmp")
    assert not os.path.isdir(path + ".__old")


def test_compact_rewrites_small_files_preserving_rows(engine):
    import os

    c = engine.create_collection("compact_me")
    # many tiny appends = many tiny files (the micro-batch ingest shape)
    for i in range(6):
        c.add(
            ids=[f"i{i}_{j}" for j in range(5)],
            embeddings=[[float(i), float(j)] for j in range(5)],
            documents=[f"d{i}{j}" for j in range(5)],
        )
    path = engine.data_path(c.id)
    before_files = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    before_rows = sorted(r["id"] for r in c.get().collect())
    assert before_files > 6  # several files per append on local[N]
    after_files = c.compact(target_file_mb=128)
    assert after_files <= 2
    assert after_files == sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    assert sorted(r["id"] for r in c.get().collect()) == before_rows
    # collection remains fully functional post-compact
    assert c.count() == 30
    top = c.query([[2.0, 3.0]], n_results=1).collect()
    assert top[0]["id"] == "i2_3"


def test_delete_where_keeps_null_metadata_rows(engine):
    """A NULL predicate (metadata NULL / key absent) means the row did
    NOT match the delete filter — it must survive. Regression for the
    ~NULL over-deletion bug."""
    c = engine.create_collection("del_null_meta")
    c.add(
        ids=["meta", "nometa", "otherkey"],
        embeddings=[[1.0, 0.0]] * 3,
        metadatas=[{"label": "1"}, None, {"other": "x"}],
    )
    c.delete(where={"label": "1"})
    left = sorted(r["id"] for r in c.get().collect())
    assert left == ["nometa", "otherkey"]
    # where_document NULL documents likewise survive a $contains delete
    c2 = engine.create_collection("del_null_doc")
    c2.add(ids=["d", "nod"], embeddings=[[1.0, 0.0]] * 2, documents=["xyz", None])
    c2.delete(where_document={"$contains": "xyz"})
    assert [r["id"] for r in c2.get().collect()] == ["nod"]


def test_upsert_and_update_reject_duplicate_batch_ids(engine):
    from chroma_rs_spark.errors import DuplicateIDError

    c = engine.create_collection("dup_batch")
    c.add(ids=["a"], embeddings=[[1.0, 0.0]])
    with pytest.raises(DuplicateIDError, match="upsert"):
        c.upsert(ids=["a", "a"], embeddings=[[1.0, 0.0], [2.0, 0.0]])
    with pytest.raises(DuplicateIDError, match="update"):
        c.update(ids=["a", "a"], documents=["v1", "v2"])
    assert c.count() == 1


def test_update_enforces_registered_dim(engine):
    from chroma_rs_spark.errors import DimensionMismatchError

    c = engine.create_collection("upd_dim")
    c.add(ids=["a"], embeddings=[[1.0, 0.0]])
    with pytest.raises(DimensionMismatchError):
        c.update(ids=["a"], embeddings=[[1.0, 2.0, 3.0]])


def test_query_rejects_wrong_probe_dim(engine):
    from chroma_rs_spark.errors import DimensionMismatchError

    c = engine.create_collection("query_dim")
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(DimensionMismatchError, match="dim"):
        c.query([[1.0, 0.0, 0.0]], n_results=1)
    with pytest.raises(DimensionMismatchError):
        c.query([[1.0]], n_results=1)


def test_empty_metadata_dict_roundtrips_as_empty_map(engine):
    c = engine.create_collection("empty_meta")
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0]] * 2, metadatas=[{}, None])
    rows = {r["id"]: r["metadata"] for r in c.get(include=("metadatas",)).collect()}
    assert rows["a"] == {}
    assert rows["b"] is None


def test_reader_recovery_leaves_writer_tmp_alone(engine):
    import os
    import shutil

    c = engine.create_collection("tmp_safety")
    c.add(ids=["a"], embeddings=[[1.0, 0.0]])
    path = engine.data_path(c.id)
    tmp = path + ".__tmp"
    os.makedirs(tmp, exist_ok=True)  # simulate an in-flight writer
    assert c.count() == 1  # read path must not delete the tmp dir
    assert os.path.isdir(tmp)
    shutil.rmtree(tmp)


@pytest.mark.parametrize(
    "write", ["data_overwrite", "index_write", "ivfpq_index", "sketch_compact"]
)
def test_writer_survives_reader_heal_between_renames(
    engine, monkeypatch, tmp_path, write
):
    """A reader's _recover_interrupted_overwrite can run inside a
    writer's two-rename window (live dir parked, committed tmp not yet
    promoted) and promote the tmp itself. The writer's own promote then
    finds no tmp, but the disk already holds the intended state: the
    write must succeed, for data overwrites, index writes and sketch
    compactions alike."""
    import os

    import numpy as np

    from chroma_rs_spark import collection as C
    from chroma_rs_spark.streaming.ingest import compact_sketch_dir, read_cms

    rng = np.random.default_rng(9)
    ids = [f"v{i:02d}" for i in range(24)]
    vecs = rng.normal(0.0, 1.0, size=(24, 4)).tolist()
    c = engine.create_collection("heal", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs)
    build = {
        "index_write": lambda m: c.build_pq_index(m=m, k=4, sample_size=24),
        "ivfpq_index": lambda m: c.build_ivfpq_index(
            n_centroids=2, max_iter=2, m=m, k=4, sample_size=24
        ),
    }.get(write)
    if build is not None:
        build(2)  # a live index the rebuild parks
    sketch = str(tmp_path / "cms_segments")
    if write == "sketch_compact":
        seg = engine.spark.createDataFrame(
            [(0, 11, 3), (0, 11, 4), (1, 5, 2)], "row int, bucket long, cnt long"
        )
        for _ in range(2):  # two segments, as two micro-batches append
            seg.write.mode("append").parquet(sketch)

    healed = []

    class ReaderHealsFirst:
        def __getattr__(self, name):
            return getattr(os, name)

        @staticmethod
        def replace(src, dst):
            if src.endswith(".__tmp") and not healed:
                healed.append(dst)
                assert not os.path.isdir(dst)  # inside the window
                C._recover_interrupted_overwrite(dst)  # reader mode
            return os.replace(src, dst)

    monkeypatch.setattr(C, "os", ReaderHealsFirst())
    if write == "sketch_compact":
        n = compact_sketch_dir(engine.spark, sketch, kind="cms")
    elif build is None:
        c.upsert(ids=["new"], embeddings=[[1.0, 2.0, 3.0, 4.0]])
    else:
        path = build(4)
    monkeypatch.undo()

    assert healed, "the reader heal was never injected"
    for leftover in (healed[0] + ".__tmp", healed[0] + ".__old"):
        assert not os.path.exists(leftover)
    if write == "sketch_compact":
        assert healed[0] == sketch and n == 2
        rows = sorted(tuple(r) for r in read_cms(engine.spark, sketch).collect())
        assert rows == [(0, 11, 14), (1, 5, 4)]
    elif build is None:
        assert c.count() == 25 and c.get(ids=["new"]).count() == 1
    else:
        assert healed[0] == path
        index = "pq" if write == "index_write" else "ivfpq"
        loaded = C._load_index(engine, c, index)
        books = loaded if index == "pq" else loaded[1]
        assert books.shape[0] == 4  # the rebuild's generation is live


def test_partial_index_dir_reads_as_absent(engine):
    """An index dir without Spark's _SUCCESS marker (crashed build)
    must be treated as no-index — the PQ/IVF loaders never reconstruct
    codebooks/centroids from partial rows."""
    import os

    import numpy as np

    rng = np.random.default_rng(5)
    ids = [f"v{i}" for i in range(20)]
    vecs = [[float(x) for x in rng.normal(0, 1, 4)] for _ in ids]
    c = engine.create_collection("partial_idx", {"hnsw:space": "cosine"})
    c.add(ids=ids, embeddings=vecs)
    p = c.build_pq_index(m=2, k=4, sample_size=16)
    os.remove(os.path.join(p, "_SUCCESS"))  # simulate a partial build
    from chroma_rs_spark.collection import _load_index

    assert _load_index(c._engine, c, "pq") is None
    # query still works (transient retrain), never loads the partial dir
    got = c.query([vecs[0]], n_results=1, index="pq", oversample=8).collect()
    assert got[0]["id"] == ids[0]


def test_compact_partitioned_collection_merges_per_partition(engine):
    import os

    c = engine.create_collection("compact_part", {"partition_by": "lang"})
    for i in range(4):
        c.add(
            ids=[f"e{i}_{j}" for j in range(3)],
            embeddings=[[float(i), float(j)] for j in range(3)],
            metadatas=[{"lang": "en" if j % 2 == 0 else "de"} for j in range(3)],
        )
    path = engine.data_path(c.id)
    before = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    rows_before = sorted(r["id"] for r in c.get().collect())
    after = c.compact(target_file_mb=128)
    # partition-keyed repartition: at most one file per partition value
    # per surviving task — far fewer than the per-append accumulation
    assert after < before
    assert after <= 2  # two partition values, one task
    assert sorted(r["id"] for r in c.get().collect()) == rows_before
    # partition pruning still works after the rewrite
    en = c.get(where={"lang": "en"}).collect()
    assert all(r["metadata"]["lang"] == "en" for r in en) and len(en) == 8


def test_stats_reports_physical_and_index_state(engine):
    c = engine.create_collection("stats_me", {"hnsw:space": "cosine"})
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    s = c.stats()
    assert s["count"] == 2 and s["dim"] == 2 and s["partition_by"] is None
    assert s["data_files"] >= 1 and s["data_bytes"] > 0
    assert not s["ivf_index"] and not s["pq_index"] and not s["pq_codes"]
    c.build_pq_index(m=2, k=2, sample_size=2)
    c.materialize_pq_codes()
    s2 = c.stats()
    assert s2["pq_index"] and s2["pq_codes"] and not s2["ivf_index"]
    # physical numbers cross-checked against an independent walk of the
    # data dir (the compaction signal must be trustworthy)
    import os

    data = c._engine.data_path(c.id)
    sizes = [
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(data)
        for f in files
        if f.endswith(".parquet")
    ]
    assert s2["data_files"] == len(sizes)
    assert s2["data_bytes"] == sum(sizes)
    assert s2["count"] == c.count()


def test_find_duplicates_three_methods(engine):
    """The collection-surface dedup bridge: exact copies, near-dup
    text, and near-dup vectors each flag the later id as the loser."""
    import pytest as _pytest

    coll = engine.create_collection("dupes")
    base_text = " ".join(f"tok{i}" for i in range(40))
    near_text = " ".join(f"tok{i}" for i in range(38)) + " zz yy"
    v = [1.0, 0.0, 0.0, 0.0] * 16
    v_near = [1.0, 0.01, 0.0, 0.0] * 16
    v_other = ([0.0, 1.0, 0.0, 0.0] * 16)
    coll.add(
        ids=["a1", "a2", "b1", "c1"],
        documents=[base_text, base_text, near_text, "completely different words here"],
        embeddings=[v, v_near, v, v_other],
    )
    ex = {r["id"]: r for r in coll.find_duplicates(method="exact").collect()}
    assert ex["a1"]["keep"] and not ex["a2"]["keep"]
    assert ex["a1"]["n_copies"] == 2 and ex["b1"]["keep"] and ex["c1"]["keep"]

    mh = {r["id"]: r["keep"] for r in coll.find_duplicates(method="minhash", threshold=0.6).collect()}
    assert mh["a1"] and not mh["a2"]
    assert not mh["b1"]  # near text of a1/a2, larger id loses
    assert mh["c1"]

    emb = {r["id"]: r["keep"] for r in coll.find_duplicates(method="embedding", threshold=0.9).collect()}
    assert emb["a1"] and not emb["a2"] and not emb["b1"]  # b1 shares a1's vector
    assert emb["c1"]

    with _pytest.raises(ValueError):
        coll.find_duplicates(method="nope")
