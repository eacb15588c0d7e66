"""Source checks that keep each concern in one module (no Spark).

- Concurrent Spark jobs go through ``session.run_concurrent``, the one
  pool whose workers keep the caller's job tags, so ``ThreadPoolExecutor``
  appears only in ``session.py``.
- JSON files are written through ``fsops.publish_json`` (temp write,
  fsync, rename), so ``json.dump(`` appears only in ``fsops.py``.
- Versioned slots are claimed through ``fsops.claim``, the one
  non-clobbering rename loop, so ``rename_no_clobber(`` appears only in
  ``fsops.py``.
- JSON files are read through ``fsops.read_json``, which tells a missing
  file from a corrupt one, so ``json.load(`` appears only in
  ``fsops.py``.
- Streaming sinks attach through ``streaming/sink.attach``, so
  ``.foreachBatch(`` appears only in ``streaming/sink.py``.
- Replay ledgers keep their bounded tail through ``fsops.record_fold``,
  so ``[-1000:]`` appears only in ``fsops.py``.
- The streaming wire path resolves transaction origins inside the frame
  decode, so nothing under ``streaming/`` uses the Spark-side as-of
  (``annotate_origins``) or its filter (``filter_by_origin``).
- Every partitioned write (``.write...partitionBy(...)``) writes a frame
  clustered by ``session.cluster`` or by a ``repartition`` with an
  explicit partition count: a keyed shuffle without one is coalesced by
  AQE, often into one task that writes every directory serially.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "python_cdc_spark"


@pytest.mark.parametrize(
    "needle, owner",
    [
        ("ThreadPoolExecutor", "session.py"),
        ("json.dump(", "fsops.py"),
        ("rename_no_clobber(", "fsops.py"),
        ("json.load(", "fsops.py"),
        (".foreachBatch(", "streaming/sink.py"),
        ("[-1000:]", "fsops.py"),
    ],
)
def test_concern_lives_in_one_module(needle, owner):
    offenders = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if p.relative_to(PKG) != pathlib.Path(owner) and needle in p.read_text()
    )
    assert offenders == [], f"{needle!r} outside {owner}: {offenders}"


@pytest.mark.parametrize("name", ["annotate_origins", "filter_by_origin"])
def test_streaming_does_not_use_as_of_origins(name):
    offenders = sorted(
        str(p.relative_to(PKG))
        for p in (PKG / "streaming").rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if (isinstance(node, ast.alias) and node.name == name)
        or (isinstance(node, ast.Attribute) and node.attr == name)
    )
    assert offenders == [], f"{name} used under streaming/: {offenders}"


#: calls that keep a frame's rows and partitioning between the
#: clustering and the write
_PARTITION_PRESERVING = {"observe", "sortWithinPartitions"}


def _written_frame(partition_by: ast.Call):
    """The frame ``<frame>.write[.mode(..)...].partitionBy(..)`` writes,
    or None when the call is not on a writer (``Window.partitionBy``)."""
    node = partition_by.func.value
    while True:
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return node.value
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            node = node.func.value  # .mode(..), .option(..), .format(..)
        else:
            return None


def _call_name(node) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _clustered(frame) -> bool:
    while _call_name(frame) in _PARTITION_PRESERVING:
        frame = frame.func.value
    name = _call_name(frame)
    if name == "cluster":
        return True
    if name != "repartition" or not frame.args:
        return False
    count = frame.args[0]  # an explicit count comes first; a column does not
    return not (
        isinstance(count, ast.Starred)
        or (isinstance(count, ast.Constant) and isinstance(count.value, str))
        or _call_name(count) in ("col", "column", "expr")
    )


def test_partitioned_writes_are_clustered():
    offenders = sorted(
        f"{p.relative_to(PKG)}:{node.lineno}"
        for p in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if _call_name(node) == "partitionBy"
        and (frame := _written_frame(node)) is not None
        and not _clustered(frame)
    )
    assert offenders == [], f"partitioned writes without an explicit count: {offenders}"
