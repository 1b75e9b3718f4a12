"""dist/linkgraph.zip, the spark-submit --py-files unit, must ship exactly
the package sources. Rebuild it with ``python scripts/package.py``."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_matches_package_sources():
    sources = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "linkgraph")):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    sources[os.path.relpath(full, REPO)] = fh.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "linkgraph.zip")) as zf:
        shipped = {name: zf.read(name) for name in zf.namelist()}
    assert sorted(shipped) == sorted(sources), "rerun python scripts/package.py"
    stale = sorted(k for k in sources if shipped[k] != sources[k])
    assert not stale, f"stale in dist/linkgraph.zip: {stale}"
