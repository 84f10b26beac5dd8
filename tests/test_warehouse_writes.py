"""The warehouse's stages write DataFrames only through ``Warehouse``,
so every table they write gets its file sizing and the session's
Parquet codec. A ``DataFrameWriter`` is reached as the property
``df.write``; ``Warehouse.write`` and Spark ML's ``model.write()`` are
calls. The scan reads the source with ``ast`` and needs no Spark
session."""

from __future__ import annotations

import ast
from pathlib import Path

PLANS = Path(__file__).resolve().parent.parent / "teleco_etl_pipeline_spark" / "plans"
STAGES = ("pipeline.py", "medallion.py", "reprocess.py", "ml.py")


def _writer_uses(path: Path) -> list[str]:
    """``file:line`` of every ``.write`` attribute that is not called."""
    tree = ast.parse(path.read_text())
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return [
        f"{path.name}:{n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "write" and id(n) not in called
    ]


def test_stages_write_only_through_warehouse():
    assert [use for name in STAGES for use in _writer_uses(PLANS / name)] == []


def test_writer_scan_tells_dataframe_writes_from_calls(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "df.write.mode('overwrite').parquet(p)\n"
        "wh.write(df, 'gold', 't')\n"
        "model.write().overwrite().save(p)\n"
    )
    assert _writer_uses(probe) == ["probe.py:1"]
