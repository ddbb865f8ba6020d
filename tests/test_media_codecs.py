"""Media codecs: pinned encoder bytes, the Spark encode → decode path of
every codec-table row against its DuckDB oracle, and the one-kernel-per-
direction shape of ``operators/multimodal.py``."""

import ast
import hashlib
import os

import pytest

from qradar_restapi_kafka_datapipeline_spark.operators import multimodal as M

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "x", "Qq"]
_INPUTS = [
    (i, " ".join(_WORDS[(i * 3 + j) % len(_WORDS)] for j in range(i % 13)))
    for i in range(200)
]

#: sha256 over each encoder's output for ``_INPUTS``, in order.  The
#: oracles check decoded properties only, so a changed reserved field,
#: DPI value or chunk order in a shared header writer would pass them.
_ENCODER_SHA256 = {
    "encode_bmp":
        "2bf09e8e53a83d17774702b1af1d16dbbcf07fc209c616042c1fc6eb0d2eb575",
    "encode_bmp_textured":
        "75fcfe0caa7ec1ce28798c51466cf88ba5b2c0674612f7aaebe64dbb0e2c95b3",
    "encode_wav":
        "30736117f9fef21f94067c106c8859c323c53659139e7e9b2b62cf0ee8803824",
    "encode_wav_voiced":
        "b022430349b79594c3eea1456371256655e88fbfeaeb91616e712b37bf9a0e60",
    "encode_png":
        "7db09a8e3d618f28f76b64275df1c4f267743745370ced905e561c278e565134",
    "encode_jpeg":
        "c6901e182e426492f2cc95ed523426191dd15cdd403c7d62ced2029e0b0917dd",
    "encode_video":
        "2ecc309ce6e9ba0833b7cf5d77696cf9565af9492eac5b62729bfca1842d8aba",
}


@pytest.mark.parametrize("name", sorted(_ENCODER_SHA256))
def test_encoder_bytes_are_pinned(name):
    h = hashlib.sha256()
    for doc_id, text in _INPUTS:
        h.update(getattr(M, name)(doc_id, text))
    assert h.hexdigest() == _ENCODER_SHA256[name]


@pytest.mark.parametrize("fmt", sorted(M.CODECS))
def test_codec_spark_path_matches_oracle(spark, tables, sf_dir, fmt):
    """Each codec row's Spark path (encode kernel → decode kernel) yields
    exactly the rows its DuckDB oracle recomputes from the encoder spec."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rel = con.execute(M.CODECS[fmt].oracle)
    cols = [d[0] for d in rel.description]
    want = sorted(rel.fetchall())
    got = sorted(
        tuple(r)
        for r in M.media_features(spark.table("documents"), fmt)
        .select(*cols).collect()
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_multimodal_has_one_encode_and_one_decode_kernel():
    """Media work goes through the two shared Arrow kernels: no other
    ``mapInPandas`` call and no other ``kernel`` definition in the module."""
    allowed = {"attach_payload", "decode_features"}
    tree = ast.parse(open(M.__file__).read())
    hits = []
    for top in tree.body:
        for node in ast.walk(top):
            is_map = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            )
            is_kernel = isinstance(node, ast.FunctionDef) and node.name == "kernel"
            if (is_map or is_kernel) and getattr(top, "name", None) not in allowed:
                hits.append(f"{os.path.basename(M.__file__)}:{node.lineno}")
    assert not hits, hits
    n_calls = sum(
        isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "mapInPandas"
        for n in ast.walk(tree)
    )
    assert n_calls == 2
