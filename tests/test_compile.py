"""Every module of the package compiles with warnings raised as errors,
so an invalid escape sequence (a DeprecationWarning on Python 3.11, a
SyntaxWarning from 3.12) fails here instead of in a later interpreter."""

from __future__ import annotations

import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "wde_spark"


def test_package_compiles_without_warnings():
    failed = []
    for path in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failed.append(f"{path.relative_to(PKG.parent)}: {e}")
    assert not failed, "\n".join(failed)
