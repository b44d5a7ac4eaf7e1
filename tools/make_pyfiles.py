#!/usr/bin/env python
"""Build the --py-files archive and the matcher jar for spark-submit (north
rule: "run via spark-submit --py-files on multi-executor clusters").

    python tools/make_pyfiles.py [--out dist/kgforge.zip]
    spark-submit --py-files dist/kgforge.zip \
        --jars dist/kgforge-matcher.jar jobs/run_pipeline.py ...

The archive contains the ``kgforge`` package only — jobs/ and tests/ stay
outside (the driver script is passed to spark-submit directly; executors
need just the library). The jar, written next to it, holds the JVM lexicon
matcher compiled from ``kgforge/jvm/LexiconMatch.java`` (needs ``javac``);
with it on ``--jars`` the driver needs no JDK. Both are deterministic:
fixed timestamps and sorted entries, so rebuilding an unchanged tree yields
byte-identical files (kind to cluster file caches keyed by checksum).
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgforge import jvm  # noqa: E402


def build(out_path: str) -> str:
    pkg = os.path.join(ROOT, "kgforge")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    entries: list[tuple[str, str]] = []
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            # the Java source rides along: kgforge.jvm hashes it on import
            if not fn.endswith((".py", ".java")):
                continue
            full = os.path.join(dirpath, fn)
            entries.append((full, os.path.relpath(full, ROOT)))
    entries.sort(key=lambda e: e[1])
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, arc in entries:
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    return out_path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "dist", "kgforge.zip"))
    args = ap.parse_args()
    print(build(args.out))
    print(jvm.build_jar(os.path.join(os.path.dirname(args.out), "kgforge-matcher.jar")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
