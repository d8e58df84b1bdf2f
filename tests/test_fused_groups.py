"""One distributed build path: checkpoint groups are a loop around the
fused pass, and the finished index reads the same for any group count.

- G=1 and G=4 builds of one corpus give the same postings, doclens,
  term_stats and meta.json (the G=1 build is the plain fused build).
- a build killed after group 2 and resumed matches the G=1 build file
  by file.
- doclens side-writes that never reach the index location (an executor
  store the driver does not share) fail the build before meta.json.
- the partition kernel writes doclens through pyarrow.fs, so a URI
  location works and a re-run task rewrites the same bytes.
"""
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from searcharray_spark import build_index, indexing, partitioning

DOCS = [(i, f"w{i % 7} common w{i % 13} tail{i % 97} w{i % 7}")
        for i in range(2000)]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture()
def distributed(monkeypatch):
    """Force the fused distributed build at this small size."""
    monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 0)


def _rows(path, sub):
    return pq.read_table(os.path.join(path, sub)).to_pylist()


def _snapshot(path):
    """Everything a reader of the index sees, keyed independently of
    how the rows are cut into files."""
    meta = json.load(open(os.path.join(path, "meta.json")))
    meta.pop("build_secs")
    return {
        "postings": {(r["term"], r["block_id"]): r
                     for r in _rows(path, "postings")},
        "doclens": {r["block_id"]: r for r in _rows(path, "doclens")},
        "term_stats": sorted(_rows(path, "term_stats"),
                             key=lambda r: r["term"]),
        "meta": meta,
    }


def _files(path):
    """Per-file contents. doclens and term_stats are compared as bytes.
    Postings files are written by Spark, whose parquet footers are not
    byte-stable across two identical runs, so they are compared as
    decoded tables plus their row-group count."""
    out = {}
    for sub in ("postings", "doclens", "term_stats"):
        for name in sorted(os.listdir(os.path.join(path, sub))):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(path, sub, name)
            if sub == "postings":
                key = re.sub(r"^(part-\d+)-.*$", r"\1", name)
                out[(sub, key)] = (pq.read_table(fp).to_pylist(),
                                   pq.ParquetFile(fp).metadata.num_row_groups)
            else:
                out[(sub, name)] = open(fp, "rb").read()
    return out


def test_groups_match_single_pass(spark, corpus, tmp_path, distributed):
    one = str(tmp_path / "g1")
    four = str(tmp_path / "g4")
    build_index(spark, corpus, one, doc_id_col="doc_id", docs_per_block=64)
    idx = build_index(spark, corpus, four, doc_id_col="doc_id",
                      docs_per_block=64, checkpoint_groups=4)
    assert idx.meta.get("built_local") is None
    assert _snapshot(one) == _snapshot(four)
    assert _files(one) == _files(four)
    # flat tables: no partition column, no group dirs left behind
    assert set(_rows(four, "postings")[0]) == set(indexing.POSTINGS_COLS)
    assert sorted(os.listdir(os.path.join(four, "_groups"))) == [
        f"group_{g}_of_4.done" for g in range(4)]
    with open(os.path.join(one, "_groups", "group_0_of_1.done")) as fh:
        assert json.load(fh)["group"] == 0


def test_resume_after_group_two_matches_single_pass(spark, corpus, tmp_path,
                                                     distributed,
                                                     monkeypatch):
    one = str(tmp_path / "g1")
    build_index(spark, corpus, one, doc_id_col="doc_id", docs_per_block=64)

    class Crash(Exception):
        pass

    real_dump = json.dump

    def dump(obj, fh, **kw):
        if isinstance(obj, dict) and obj.get("group") == 3:
            raise Crash("killed after group 2 committed")
        return real_dump(obj, fh, **kw)

    broken = str(tmp_path / "broken")
    monkeypatch.setattr(indexing.json, "dump", dump)
    with pytest.raises(Crash):
        build_index(spark, corpus, broken, doc_id_col="doc_id",
                    docs_per_block=64, checkpoint_groups=4)
    monkeypatch.setattr(indexing.json, "dump", real_dump)
    done = [m for m in os.listdir(os.path.join(broken, "_groups"))
            if m.endswith(".done")]
    assert sorted(done) == [f"group_{g}_of_4.done" for g in range(3)]
    assert not os.path.exists(os.path.join(broken, "meta.json"))

    build_index(spark, corpus, broken, doc_id_col="doc_id",
                docs_per_block=64, checkpoint_groups=4, resume=True)
    with open(os.path.join(broken, "metrics.jsonl")) as fh:
        groups = [json.loads(ln)["group"] for ln in fh
                  if json.loads(ln).get("stage") == "build_group"]
    assert groups == [0, 1, 2, 3]  # resume re-ran only group 3
    assert _snapshot(one) == _snapshot(broken)
    assert _files(one) == _files(broken)


def test_resume_refuses_a_different_layout(spark, corpus, tmp_path,
                                           distributed):
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=64,
                checkpoint_groups=2, term_partitions=4)
    with pytest.raises(ValueError, match="different layout"):
        build_index(spark, corpus, path, doc_id_col="doc_id",
                    docs_per_block=64, checkpoint_groups=2,
                    term_partitions=6, resume=True)


def test_resume_over_older_tables_rebuilds_them(spark, corpus, tmp_path,
                                                distributed):
    """resume=True where no group of this layout committed (here over a
    single-pass build) replaces the old tables instead of mixing them
    with the new groups' files."""
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=64)
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=64,
                checkpoint_groups=4, resume=True)
    clean = str(tmp_path / "clean")
    build_index(spark, corpus, clean, doc_id_col="doc_id", docs_per_block=64,
                checkpoint_groups=4)
    assert _files(path) == _files(clean)


def test_range_fallback_layout_matches(spark, corpus, tmp_path, distributed,
                                       monkeypatch):
    """A layout wider than the probe table goes through the same pass on
    repartition_exact's sampled range fallback."""
    exact = str(tmp_path / "exact")
    build_index(spark, corpus, exact, doc_id_col="doc_id", docs_per_block=64,
                term_partitions=4)
    monkeypatch.setattr(partitioning, "PROBE_MAX_PARTITIONS", 2)
    ranged = str(tmp_path / "ranged")
    idx = build_index(spark, corpus, ranged, doc_id_col="doc_id",
                      docs_per_block=64, term_partitions=4)
    assert _snapshot(exact) == _snapshot(ranged)
    assert idx.meta["postings_single_row_group"] is True


def test_unshared_doclens_store_fails_before_meta(spark, corpus, tmp_path,
                                                  distributed, monkeypatch):
    """Each task writes its doclens to its own temp dir, as on an
    executor-local disk: the files never reach the index location."""
    real = indexing._make_partition_kernel
    task_disk = str(tmp_path / "executor_disk")
    os.makedirs(task_disk)

    def per_task_dir(builder, doclens_dir):
        def run(it):
            import tempfile
            return real(builder, tempfile.mkdtemp(dir=task_disk))(it)
        return run

    monkeypatch.setattr(indexing, "_make_partition_kernel", per_task_dir)
    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="doclens"):
        build_index(spark, corpus, path, doc_id_col="doc_id",
                    docs_per_block=64)
    assert not os.path.exists(os.path.join(path, "meta.json"))
    assert any(os.scandir(task_disk))  # the tasks did write, elsewhere


def test_missing_doclens_file_fails_before_meta(spark, corpus, tmp_path,
                                                distributed, monkeypatch):
    """One doclens file lost (the others arrived): the block-range cover
    check names the uncovered postings file."""
    real = indexing._make_partition_kernel

    def lose_file_one(builder, doclens_dir):
        def run(it):
            from pyspark import TaskContext
            if TaskContext.get().partitionId() == 1:
                import tempfile
                doclens = tempfile.mkdtemp()
            else:
                doclens = doclens_dir
            return real(builder, doclens)(it)
        return run

    monkeypatch.setattr(indexing, "_make_partition_kernel", lose_file_one)
    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="do not cover"):
        build_index(spark, corpus, path, doc_id_col="doc_id",
                    docs_per_block=64, term_partitions=4)
    assert not os.path.exists(os.path.join(path, "meta.json"))


def test_kernel_doclens_write_is_store_neutral(spark, tmp_path):
    """The kernel resolves the doclens location with pyarrow.fs (a
    file:// URI here) and a re-run task rewrites identical bytes."""
    from pyspark.sql import functions as F

    from searcharray_spark import tokenizers
    dl_dir = tmp_path / "doclens"
    dl_dir.mkdir()
    df = spark.createDataFrame(DOCS[:300], "doc_id long, text string") \
        .withColumn("block_id", F.floor(F.col("doc_id") / F.lit(64))) \
        .coalesce(1)
    builder = indexing._make_block_builder(
        tokenizers.resolve("ws"), 64, False)
    kernel = indexing._make_partition_kernel(builder, "file://" + str(dl_dir))

    def run():
        df.mapInPandas(kernel, indexing.POSTINGS_SCHEMA).collect()
        return {p.name: p.read_bytes() for p in dl_dir.iterdir()}

    first = run()
    assert list(first) == ["part-00000.parquet"]  # no temp file left
    assert run() == first
    md = pq.ParquetFile(str(dl_dir / "part-00000.parquet")).metadata
    assert md.metadata[b"n_docs"] == b"300"
