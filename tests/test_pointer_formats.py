"""Pointers of earlier on-disk layouts are refused, not read through
fallbacks (no Spark session: the checks run on the pointer alone).

Every versioned structure's pointer carries a ``"format"`` stamp and
its reader calls ``fsops.check_format``; the cache gate
``ann_index.meta_is_current`` treats an unstamped meta as stale so
caches rebuild instead of raising. ``fsops.read_json`` reads a missing
file as its default and refuses a corrupt one.
"""

from __future__ import annotations

import json
import os

import pytest


def _bm25_ptr(path):
    from python_cdc_spark.operators.bm25_index import read_ptr

    return read_ptr(path)


def _dedup_base_ptr(path):
    from python_cdc_spark.operators.incremental_dedup import _read_base_ptr

    return _read_base_ptr(path)


def _dedup_components(path):
    from python_cdc_spark.operators.incremental_dedup import (
        _current_components_dir,
    )

    return _current_components_dir(path)


@pytest.mark.parametrize(
    "name, legacy, read",
    [
        (
            "_ptr",
            {"meta": 0, "postings": {}, "doclen": {}, "folds": []},
            _bm25_ptr,
        ),
        ("_base_ptr", {"version": 0, "includes": []}, _dedup_base_ptr),
        ("_components_ptr", 3, _dedup_components),
    ],
)
def test_unformatted_pointer_is_refused(tmp_path, name, legacy, read):
    from python_cdc_spark.operators.ann_index import META_FORMAT, meta_is_current

    ptr = os.path.join(str(tmp_path), name)
    with open(ptr, "w") as fh:
        json.dump(legacy, fh)
    with pytest.raises(ValueError, match="rebuild") as err:
        read(str(tmp_path))
    assert ptr in str(err.value)

    # the cache gate reads an unstamped meta as stale: rebuild, not raise
    meta = {"fingerprint": "fp", "params": {"v": 1}}
    assert not meta_is_current(meta, "fp", {"v": 1})
    assert meta_is_current({**meta, "format": META_FORMAT}, "fp", {"v": 1})


def test_read_json_refuses_a_corrupt_file(tmp_path):
    from python_cdc_spark import fsops

    path = str(tmp_path / "_meta.json")
    assert fsops.read_json(path, {"version": 0}) == {"version": 0}
    with open(path, "w") as fh:
        fh.write('{"ver')
    with pytest.raises(ValueError) as err:
        fsops.read_json(path, {"version": 0})
    assert path in str(err.value)
