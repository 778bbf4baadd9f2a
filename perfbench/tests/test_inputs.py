"""Self-test of the benchmark's input generator: the same seed gives the
same bytes, and stream drop files never repeat a documentId.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import inputs  # noqa: E402


def _zip_members(path: str) -> dict[str, bytes]:
    # zip headers stamp the write time, so compare the members' bytes
    with zipfile.ZipFile(path) as zf:
        return {name: zf.read(name) for name in zf.namelist()}


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_season_zip_is_a_function_of_seed_and_n(tmp_path):
    for season in (2023, 2024):
        a, b, c = (str(tmp_path / f"{k}-{season}.zip") for k in "abc")
        ids = inputs.write_season_zip(a, season, 120, seed=5)
        assert inputs.write_season_zip(b, season, 120, seed=5) == ids
        inputs.write_season_zip(c, season, 120, seed=6)
        assert _zip_members(a) == _zip_members(b)
        assert _zip_members(a) != _zip_members(c)
        assert len(set(ids)) == 120


def test_drop_files_are_deterministic_with_unique_ids(tmp_path):
    first = inputs.write_drop_files(str(tmp_path / "a"), 4, 30, seed=9)
    again = inputs.write_drop_files(str(tmp_path / "b"), 4, 30, seed=9)
    assert first == again
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    ids = [i for _name, file_ids in first for i in file_ids]
    assert len(ids) == len(set(ids)) == 120


def test_query_tables_are_deterministic(tmp_path):
    inputs.write_query_tables(str(tmp_path / "a"), 2, seed=42)
    inputs.write_query_tables(str(tmp_path / "b"), 2, seed=42)
    digest = _tree_digest(str(tmp_path / "a"))
    assert digest == _tree_digest(str(tmp_path / "b"))
    assert {"lineitem.parquet", "orders.parquet", "events.parquet", "documents.parquet"} <= set(digest)
