"""The shipped package archive is named by its sources, not its age."""

import os
import zipfile

from igtdetect_spark.shipping import package_zip_path


def _tree(root, text, mtime):
    pkg = root / "igtdetect_spark"
    (pkg / "operators").mkdir(parents=True)
    for f in (pkg / "__init__.py", pkg / "operators" / "score.py"):
        f.write_text(text)
        os.utime(f, (mtime, mtime))
    return str(pkg)


def test_older_checkout_gets_its_own_archive(tmp_path):
    a = _tree(tmp_path / "a", "VERSION = 'a'\n", 2_000_000_000)
    b = _tree(tmp_path / "b", "VERSION = 'b'\n", 1_000_000_000)
    out = tmp_path / "out"
    out.mkdir()
    za = package_zip_path(a, str(out))
    zb = package_zip_path(b, str(out))
    assert za != zb
    with zipfile.ZipFile(zb) as z:
        assert sorted(z.namelist()) == [
            "igtdetect_spark/__init__.py",
            "igtdetect_spark/operators/score.py",
        ]
        assert z.read("igtdetect_spark/operators/score.py") == b"VERSION = 'b'\n"
    # same sources, same archive: reused, not rebuilt
    assert package_zip_path(a, str(out)) == za
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (za, zb)
    )
