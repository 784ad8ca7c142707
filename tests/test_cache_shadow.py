"""Query-cache files whose names carry ':' are read through symlinks in a
shadow directory (`sources/cache._hadoop_safe_paths`). Equal basenames in
two directories must resolve to their own files, not to whichever was read
first; a no-':' file is listed as it is."""

import os
import tempfile

from wde_spark.sources.cache import _hadoop_safe_paths


def test_colon_names_resolve_per_directory(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    files = {}
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
        f = tmp_path / d / "idqueried_:.json"
        f.write_text(f'{{"{d}": ["Q1", "", "", true]}}')
        files[d] = str(f)
    for _ in range(2):  # the second pass reuses the links made by the first
        for d, f in files.items():
            [link] = _hadoop_safe_paths(str(tmp_path / d / "idqueried_*.json"))
            assert ":" not in os.path.basename(link)
            assert os.path.realpath(link) == os.path.realpath(f)
            with open(link) as fh:
                assert fh.read().startswith(f'{{"{d}"')


def test_plain_names_pass_the_glob_through(tmp_path):
    (tmp_path / "idqueried_a.json").write_text("{}")
    glob = str(tmp_path / "idqueried_*.json")
    assert _hadoop_safe_paths(glob) == [str(tmp_path / "idqueried_a.json")]
