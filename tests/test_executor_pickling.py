"""Executor-side Python reaches plain-session workers by value.

``interop_spark`` registers itself with cloudpickle, so a UDF or
mapInPandas function that calls engine helpers (kernels, media parsers,
the BPE merge loop) runs in an interpreter that cannot import the
package at all. Each function here is pickled the way PySpark ships it,
then loaded and called in an isolated interpreter (``python -I``, cwd an
empty directory: the repo is not on its ``sys.path``)."""

from __future__ import annotations

import pickle
import struct
import subprocess
import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle

_CHILD = """
import pickle, sys
import pandas as pd
fn, arg, batched = pickle.loads(sys.stdin.buffer.read())
out = fn(arg)
if batched:
    out = pd.concat(list(out), ignore_index=True)
loaded = sorted(m for m in sys.modules if m.split(".")[0] == "interop_spark")
sys.stdout.buffer.write(pickle.dumps((out, loaded)))
"""


def _run_isolated(tmp_path, fn, arg, batched=False):
    payload = cloudpickle.dumps((fn, arg, batched))
    proc = subprocess.run(
        [sys.executable, "-I", "-c", _CHILD],
        input=payload,
        capture_output=True,
        cwd=tmp_path,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    out, loaded = pickle.loads(proc.stdout)
    assert loaded == [], loaded
    return out


class _MapCapture:
    """Stands in for a DataFrame: hands back the mapInPandas function."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def test_vector_scorer_runs_without_the_package(spark, tmp_path):
    from interop_spark.operators.similarity import nearest_centroid_udf

    cents = [(k, [1.0 if j == k else 0.1 for j in range(4)]) for k in range(3)]
    fn = nearest_centroid_udf(cents).func
    vecs = pd.Series(
        [
            np.array([0.9, 0.2, 0.1, 0.0]),
            None,
            np.array([0.0, 0.1, 0.8, 0.3]),
            np.array([1.0, 2.0]),
            np.array([0.2, 0.7, 0.1, 0.0]),
        ]
    )
    got = _run_isolated(tmp_path, fn, vecs)
    pd.testing.assert_series_equal(got, fn(vecs))
    assert list(got) == [0, None, 2, None, 1]


def test_media_decoder_runs_without_the_package(tmp_path):
    from interop_spark.operators.multimodal import image_dims

    fn = image_dims(_MapCapture())
    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 5, 3) + b"\x08\x02\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 641, 123) + b"\x00" * 4
    pdf = pd.DataFrame(
        {"media_id": [1, 2, 3, 4], "data": [png, gif, b"garbage!!!", None]}
    )
    got = _run_isolated(tmp_path, fn, [pdf], batched=True)
    expected = pd.concat(list(fn([pdf])), ignore_index=True)
    pd.testing.assert_frame_equal(got, expected)
    assert list(got["format"]) == ["png", "gif", None, None]


def test_bpe_encoder_runs_without_the_package(spark, tmp_path):
    from interop_spark.operators.text import bpe_pieces_udf

    fn = bpe_pieces_udf().func
    words = pd.Series(["then", "and", None, "xyz", "init"])
    got = _run_isolated(tmp_path, fn, words)
    pd.testing.assert_series_equal(got, fn(words))
    assert list(got) == ["the n", "and", None, "x y z", "in it"]
