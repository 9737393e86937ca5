"""dist/fs_crawler_spark.zip is the ``spark-submit --py-files`` artifact: it
must hold exactly the package's current sources. Rebuild it with
``python scripts/make_pyfiles_zip.py`` after changing any package file."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "dist", "fs_crawler_spark.zip")


def _package_sources() -> dict[str, bytes]:
    out = {}
    pkg = os.path.join(REPO, "fs_crawler_spark")
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, REPO).replace(os.sep, "/")] = fh.read()
    return out


def test_pyfiles_zip_matches_package():
    with zipfile.ZipFile(ZIP) as z:
        zipped = {name: z.read(name) for name in z.namelist()}
    want = _package_sources()
    assert sorted(zipped) == sorted(want), "stale zip: rerun scripts/make_pyfiles_zip.py"
    stale = [name for name in want if zipped[name] != want[name]]
    assert not stale, f"stale zip entries {stale}: rerun scripts/make_pyfiles_zip.py"
