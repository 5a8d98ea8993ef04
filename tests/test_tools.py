"""The tools/ scripts: every one byte-compiles, and the A/B harness
gates on signatures, reports its fields and restores what it patched."""

import dataclasses
import os
import py_compile

import pytest

from tests.test_plans import SF_DIR
from tools import ab

TOOLS = os.path.dirname(ab.__file__)


@pytest.mark.parametrize("name", sorted(
    f for f in os.listdir(TOOLS) if f.endswith(".py")))
def test_tool_compiles(name, tmp_path):
    py_compile.compile(os.path.join(TOOLS, name),
                       cfile=str(tmp_path / (name + "c")), doraise=True)


def test_ab_run_in_process(spark):
    from xtdb_spark.pipeline import dedup

    before = dedup._ARROW_VERIFY_MIN_PAIRS
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    arms = [ab.parse_arm("base"),
            ab.parse_arm("p2:spark.sql.shuffle.partitions=2,"
                         "xtdb_spark.pipeline.dedup:_ARROW_VERIFY_MIN_PAIRS=0")]
    recs = ab.run(spark, SF_DIR, ["op_group_by_aggs"], arms, rounds=1)
    assert [r["arm"] for r in recs] == ["base", "p2"]
    for r in recs:
        assert set(r) == {"entry", "arm", "runs", "median", "q1", "q3",
                          "signature"}
        assert len(r["runs"]) == 1 and r["q1"] <= r["median"] <= r["q3"]
    assert recs[0]["signature"] == recs[1]["signature"]
    assert recs[0]["signature"][0] > 0
    assert dedup._ARROW_VERIFY_MIN_PAIRS == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_ab_run_exits_on_signature_mismatch(spark, monkeypatch):
    """An arm that changes the rows stops the run before any timing."""
    from xtdb_spark.queries import QUERIES

    monkeypatch.setitem(QUERIES, "ab_probe", dataclasses.replace(
        QUERIES["op_group_by_aggs"], fn=lambda s, d: s.range(
            int(s.conf.get("spark.sql.shuffle.partitions")))))
    with pytest.raises(ab.SignatureMismatch):
        ab.run(spark, SF_DIR, ["ab_probe"],
               [ab.parse_arm("base"),
                ab.parse_arm("p1:spark.sql.shuffle.partitions=1")])
