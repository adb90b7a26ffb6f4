"""The zip shipped to Python workers always holds the current source."""

import os
import zipfile

from rlis2osm_spark import driver_support


def _source_files() -> dict:
    root = os.path.dirname(driver_support._PKG_DIR)
    out = {}
    for dirpath, _dirs, files in os.walk(driver_support._PKG_DIR):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, root)] = fh.read()
    return out


def test_package_zip_rebuilt_over_stale_zip(tmp_path):
    want = _source_files()
    zip_path = str(tmp_path / os.path.basename(driver_support.ZIP_PATH))
    # a zip left by an older checkout: same member names, other bytes
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name, data in want.items():
            zf.writestr(name, data + b"\n# stale\n")

    driver_support.build_package_zip(zip_path)

    with zipfile.ZipFile(zip_path) as zf:
        got = {n: zf.read(n) for n in zf.namelist()}
    assert got == want
    assert os.listdir(tmp_path) == [os.path.basename(zip_path)]
