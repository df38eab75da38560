"""The one repack path (index/repack.py): merge, delete, upsert and
compaction share one kernel, and the on-disk params win over a
caller's."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder
from legal_text_retrieval_spark.index.merge import upsert_index
from legal_text_retrieval_spark.streaming import incremental

from test_index_merge import _dict_pdf, _postings_pdf

PKG = Path(__file__).resolve().parents[1] / "legal_text_retrieval_spark"
PARAMS = IndexParams(block_size=16, segment_doc_window=64, bm25=BM25Params(k1=1.2))
OKAPI = IndexParams(block_size=16, segment_doc_window=64,
                    bm25=BM25Params(k1=1.2, variant="okapi"))


def test_pack_group_only_in_builder_and_repack():
    """One pack kernel for build, one repack kernel for the lifecycle:
    no third copy of the decode/re-pack loop may call ``_pack_group``."""
    callers = {
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if re.search(r"\b_pack_group\s*\(", p.read_text())
    }
    assert callers == {"index/builder.py", "index/repack.py"}


def test_upsert_okapi_overlap_and_extend(spark, tiny_docs, tmp_path):
    """The delta both replaces base docs (doc_id % 3 == 1, updated text)
    and adds new ones (% 3 == 2); with a 64-doc window every shared
    (term, seg) group mixes base-only, replaced and delta-only docs.
    The upsert equals a rebuild over (base − overlap) ∪ delta, and
    writes no index directory besides ``out_dir``."""
    rem = F.col("doc_id") % 3
    base_docs = tiny_docs.filter(rem != 2)
    delta_docs = tiny_docs.filter(rem != 0).withColumn(
        "content",
        F.when(rem == 1, F.concat(F.col("content"), F.lit(" upd"))).otherwise(F.col("content")),
    )
    base = builder.build_index(spark, base_docs, str(tmp_path / "base"), OKAPI)
    delta = builder.build_index(spark, delta_docs, str(tmp_path / "delta"), OKAPI)
    before = {p.name for p in tmp_path.iterdir()}
    out = upsert_index(spark, base.root, delta.root, str(tmp_path / "upserted"))
    assert {p.name for p in tmp_path.iterdir()} - before == {"upserted"}

    direct = builder.build_index(
        spark, tiny_docs.filter(rem == 0).unionByName(delta_docs),
        str(tmp_path / "direct"), OKAPI,
    )
    do, dd = _dict_pdf(spark, out), _dict_pdf(spark, direct)
    pd.testing.assert_frame_equal(do[sorted(do.columns)], dd[sorted(dd.columns)])
    pd.testing.assert_frame_equal(_postings_pdf(spark, out), _postings_pdf(spark, direct))
    mo = json.loads(Path(out.manifest).read_text())
    md = json.loads(Path(direct.manifest).read_text())
    for key in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                "total_postings", "bytes_compressed"):
        assert mo[key] == md[key], key


def test_compact_merged_rejects_caller_params(spark, tiny_docs, tmp_path):
    """Packing with a caller's k1/block_size while the manifest keeps
    the old params would leave block maxima that do not bound the
    recorded scorer."""
    root = builder.build_index(spark, tiny_docs, str(tmp_path / "idx"), PARAMS).root
    other = IndexParams(block_size=32, segment_doc_window=64, bm25=BM25Params(k1=1.5))
    with pytest.raises(ValueError, match="incompatible"):
        incremental.compact_merged(spark, root, other)
    assert json.loads(Path(root, "manifest.json").read_text())["params"]["k1"] == 1.2


def test_start_incremental_rejects_caller_params(spark, tiny_docs, tmp_path):
    """A stream packing with another segment_doc_window than the index
    was built with would append misaligned segments."""
    root = builder.build_index(
        spark, tiny_docs.filter(F.col("doc_id") < 150), str(tmp_path / "idx"), PARAMS
    ).root
    watch = str(tmp_path / "incoming")
    tiny_docs.filter(F.col("doc_id") >= 150).select("doc_id", "content").write.parquet(watch)
    other = IndexParams(block_size=16, segment_doc_window=128, bm25=PARAMS.bm25)
    with pytest.raises(ValueError, match="incompatible"):
        incremental.start_incremental(
            spark, watch, root, other, checkpoint_dir=str(tmp_path / "ckpt")
        )
