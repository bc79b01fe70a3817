"""session.local_frame — driver rows as a Python-free local relation.

Every schema shape the operators build driver-side frames with, on the
engine's session (Arrow on) and on a vanilla one (Arrow off): the frame
carries the rows and schema ``createDataFrame(rows, schema)`` gives, and
plans as a ``LocalTableScan``, never a ``Scan ExistingRDD`` whose every
scan restarts Python workers."""

from __future__ import annotations

import contextlib
import io
import math

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from openai_vector_search_demo_spark.session import local_frame

NAN = float("nan")

CASES = {
    "scalars": ([(1, 2, 0.5, "a"), (None, None, None, None),
                 (-7, 0, NAN, "")],
                "a long, b int, c double, s string"),
    "array": ([(1, [1.0, None, NAN]), (2, None), (3, [])],
              "id long, v array<double>"),
    "nested_array": ([(0, [[1.0], [2.0, NAN]]), (1, None), (2, [None])],
                     "cell int, _lut array<array<double>>"),
    "zero_rows": ([], "qpos int, bucket int, wq double"),
    "struct_type": ([(1, 10, 0.25), (2, 11, None)],
                    StructType([StructField("rank", IntegerType(), False),
                                StructField("id", LongType()),
                                StructField("rel", DoubleType())])),
    "quoted_names": ([("x", 0.5, 1.0)], "`g` string, q double, value double"),
}


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def session(spark, request):
    """A session with the Arrow conf set each way (``newSession`` keeps
    the shared context, owns its SQL conf)."""
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", request.param)
    return s


def _physical(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _canon(v):
    """NaN-aware comparison form of a collected cell."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_rows_and_schema_as_create_data_frame(session, case):
    rows, schema = CASES[case]
    got = local_frame(session, rows, schema)
    ref = session.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert [_canon(r) for r in got.collect()] == \
        [_canon(r) for r in ref.collect()]


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_plans_as_local_table_scan(session, case):
    rows, schema = CASES[case]
    p = _physical(local_frame(session, rows, schema))
    assert "LocalTableScan" in p
    assert "ExistingRDD" not in p


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0), (2,)], "a long, b double")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0, 3)], "a long, b double")


def test_operators_build_no_list_frames():
    """Structural pin: driver-built frames in ``operators/`` and
    ``plans/`` go through ``session.local_frame``, so no module there
    calls ``createDataFrame(`` itself."""
    import glob
    import os

    import openai_vector_search_demo_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for sub in ("operators", "plans"):
        for path in sorted(glob.glob(os.path.join(root, sub, "**", "*.py"),
                                     recursive=True)):
            with open(path, encoding="utf-8") as fh:
                for no, line in enumerate(fh, 1):
                    if "createDataFrame(" in line:
                        offenders.append(f"{sub}/{os.path.basename(path)}"
                                         f":{no}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
