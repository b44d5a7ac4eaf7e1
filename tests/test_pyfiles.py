"""--py-files archive (tools/make_pyfiles.py): the kgforge package must be
importable from the zip alone, as spark-submit executors see it."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(ROOT, "tools", "make_pyfiles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build(str(tmp_path / "kgforge.zip"))


def test_zip_imports_standalone(tmp_path):
    zp = _build(tmp_path)
    # fresh interpreter, cwd outside the repo, zip as the ONLY source of
    # kgforge — mirrors an executor that got the archive via --py-files
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import kgforge.matcher, kgforge.skew, kgforge.registry; "
        "m = kgforge.matcher.LexiconMatcher(['a b', 'c']); "
        "print(m.find('a b c'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, zp],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        check=True,
    )
    assert "('a b', 0, 3)" in out.stdout and "('c', 4, 5)" in out.stdout


def test_zip_is_deterministic(tmp_path):
    a = open(_build(tmp_path / "1"), "rb").read()
    b = open(_build(tmp_path / "2"), "rb").read()
    assert a == b


def test_matcher_jar_is_deterministic_and_holds_the_class(tmp_path):
    """The jar tools/make_pyfiles.py writes next to the zip."""
    import zipfile

    from kgforge import jvm

    a = jvm.build_jar(str(tmp_path / "1" / "kgforge-matcher.jar"))
    b = jvm.build_jar(str(tmp_path / "2" / "kgforge-matcher.jar"))
    assert open(a, "rb").read() == open(b, "rb").read()
    assert "kgforge/jvm/LexiconMatch.class" in zipfile.ZipFile(a).namelist()
