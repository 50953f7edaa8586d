"""apply_upserts' two executors write the same rows.

A batch on a local path runs on the driver executor (one bounded Arrow
collect, in-process kernels, pyarrow writes); the same batch on a
``file://`` URI of a copy runs as Spark jobs. Every output must be
equal: the delta segment rows, the tombstone ids, the docs table rows
and every manifest field except ``build_metrics``. The batches cover
updates, inserts and deletes, a NULL deleted flag, a live row with NULL
text, ``ts_col`` with duplicate rows, a delete-only batch, an empty
batch and duplicate ids without ``ts_col``, on plain, positional and
fielded indexes.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from content_rw_elasticsearch_spark.operators.segments import build_segments
from content_rw_elasticsearch_spark.sources.corpus import (
    synthesize_corpus,
    with_doc_id,
)
from content_rw_elasticsearch_spark.streaming import ingest

KINDS = ("plain", "positional", "fielded")
ROWS = "doc_id long, content string, deleted boolean"
TS_ROWS = ROWS + ", ts long"


def _fields():
    return {
        "title": F.concat_ws(
            " ", F.slice(F.split(F.col("content"), " "), 1, 4)),
        "body": F.col("content"),
    }


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """kind → (built base index, its sorted doc ids)."""
    root = tmp_path_factory.mktemp("ingest_routes")
    corpus = with_doc_id(synthesize_corpus(spark, 150, seed=5)) \
        .select("doc_id", "content")
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    out = {}
    for kind in KINDS:
        path = str(root / kind)
        build_segments(corpus, path, n_buckets=3, target_block=16, nb_max=8,
                       with_positions=kind != "plain",
                       **({"fields": _fields()} if kind == "fielded" else {}))
        out[kind] = path
    return out, ids


@pytest.fixture
def routes(monkeypatch):
    """The executor each apply_upserts call took, in call order."""
    taken = []
    for name in ("_apply_on_driver", "_apply_on_spark"):
        fn = getattr(ingest, name)

        def spy(*args, _fn=fn, _name=name, **kwargs):
            taken.append(_name)
            return _fn(*args, **kwargs)
        monkeypatch.setattr(ingest, name, spy)
    return taken


def _gen_dir(path, gen, what):
    return os.path.join(path, "delta", f"gen={gen}", what)


def _outputs(path, man):
    """Every output of the batch that committed ``man`` at ``path``."""
    if man is None:
        return None
    seg = _gen_dir(path, man["gen"], "segments")
    segs = sorted(
        tuple(sorted(r.items())) for r in pq.read_table(seg).to_pylist()
    ) if any(n.startswith("bucket=") for n in os.listdir(seg)) else []
    tomb = sorted(pq.read_table(_gen_dir(path, man["gen"], "tombstones"))
                  .column("doc_id").to_pylist())
    docs = sorted((tuple(sorted(r.items())) for r in
                   pq.read_table(os.path.join(path, "docs")).to_pylist()),
                  key=repr)  # doc_len is NULL for a NULL text
    return ({k: v for k, v in man.items() if k != "build_metrics"},
            segs, tomb, docs)


def _batches(ids):
    """(rows, schema, apply_upserts kwargs) in order; None rows mark the
    empty batch."""
    new = 10**12
    return [
        ([(ids[0], "routeupdated import return shared", False),
          (ids[1], "routeupdated body the the the", False),
          (new + 1, "routeinserted import foo bar", False),
          (new + 2, "routeinserted return", False),
          (ids[2], None, True),
          (ids[3], "", True),
          (new + 3, "nullflag text", None),
          (ids[4], None, False)], ROWS, {}),
        ([(ids[5], "tsold version", False, 1),
          (ids[5], "tsnew version import", False, 2),
          (ids[6], "tsrevived", False, 2),
          (ids[6], None, True, 1),
          (new + 1, None, True, 5),
          (new + 1, "routeinserted again", False, 4)], TS_ROWS,
         {"ts_col": "ts"}),
        ([(ids[7], None, True), (ids[8], "ignored", True)], ROWS, {}),
        (None, ROWS, {}),
    ]


def _apply(spark, path, kind, rows, schema, kwargs):
    frame = spark.createDataFrame(rows or [], schema)
    return ingest.apply_upserts(
        spark, path, frame, "content", "doc_id", "deleted",
        fields=_fields() if kind == "fielded" else None, **kwargs)


@pytest.mark.parametrize("kind", KINDS)
def test_driver_and_spark_routes_write_the_same_rows(spark, bases, tmp_path,
                                                     routes, kind):
    src, ids = bases[0][kind], bases[1]
    local = str(tmp_path / "local")
    remote = str(tmp_path / "remote")
    shutil.copytree(src, local)
    shutil.copytree(src, remote)
    for rows, schema, kwargs in _batches(ids):
        del routes[:]
        got = _apply(spark, local, kind, rows, schema, kwargs)
        want = _apply(spark, "file://" + remote, kind, rows, schema, kwargs)
        assert routes == ["_apply_on_driver", "_apply_on_spark"]
        assert (got is None) == (rows is None)
        assert _outputs(local, got) == _outputs(remote, want)
    # duplicate ids without ts_col: both routes refuse the batch
    dup = [(ids[9], "one", False), (ids[9], "two", False)]
    for path in (local, "file://" + remote):
        with pytest.raises(ValueError, match="duplicate doc_id"):
            _apply(spark, path, kind, dup, ROWS, {})


def test_over_the_bound_a_local_batch_takes_the_spark_route(
        spark, bases, tmp_path, routes, monkeypatch):
    src, ids = bases[0]["positional"], bases[1]
    rows, schema, kwargs = _batches(ids)[0]
    driver = shutil.copytree(src, str(tmp_path / "driver"))
    got = _apply(spark, driver, "positional", rows, schema, kwargs)
    monkeypatch.setattr(ingest, "DRIVER_MAX_POSTINGS", 10)
    spark_path = shutil.copytree(src, str(tmp_path / "spark"))
    want = _apply(spark, spark_path, "positional", rows, schema, kwargs)
    assert routes == ["_apply_on_driver", "_apply_on_spark"]
    assert _outputs(driver, got) == _outputs(spark_path, want)
