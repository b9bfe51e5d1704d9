"""Every engine module compiles with warnings raised as errors, so an
invalid string escape (a DeprecationWarning today, a SyntaxWarning on
Python 3.12+) fails the gate instead of scrolling past in its log."""

from __future__ import annotations

import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "mr_spark"


def test_engine_sources_compile_without_warnings():
    files = sorted(PKG.rglob("*.py"))
    assert files
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for path in files:
            compile(path.read_text(encoding="utf-8"), str(path), "exec")
