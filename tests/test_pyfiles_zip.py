"""``dist/covergrid.zip`` (the ``--py-files`` package) matches the source:
rebuild it with ``python tools/make_pyfiles.py`` whenever a module changes."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "parallelcovertree_spark"


def test_pyfiles_zip_holds_exactly_the_package_sources():
    want = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    want[os.path.relpath(full, ROOT).replace(os.sep, "/")] = f.read()
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "covergrid.zip")) as z:
        got = {name: z.read(name) for name in z.namelist()}
    assert sorted(got) == sorted(want)
    stale = [name for name in want if got[name] != want[name]]
    assert not stale, f"rebuild dist/covergrid.zip; stale: {stale}"
