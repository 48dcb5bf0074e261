"""The executor-import check accepts the checkout's own package and
refuses a zip built from other source."""

import os
import subprocess
import sys
import zipfile

import pytest

import shipcheck

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checkout(tmp_path, body="X = 1\n"):
    pkg = tmp_path / "checkout" / "docvision_spark"
    (pkg / "kernel").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "kernel" / "extract.py").write_text(body)
    return str(tmp_path / "checkout")


def _zip(checkout, dest, replace=None):
    """A shipping.build_zip-style archive of the checkout's package."""
    pkg = os.path.join(checkout, "docvision_spark")
    with zipfile.ZipFile(dest, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.join("docvision_spark", os.path.relpath(full, pkg))
                data = open(full, "rb").read()
                if replace and rel.endswith(replace[0]):
                    data = replace[1]
                zf.writestr(rel, data)
    return dest


def _executor_report(zpath):
    """Run the executor-side probe in a fresh interpreter importing zpath."""
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "sys.path.insert(0, sys.argv[2]); import shipcheck; "
            "print('\\t'.join(next(shipcheck.imported_package_report())))")
    out = subprocess.run([sys.executable, "-c", code, zpath, BENCH_DIR],
                         check=True, capture_output=True, text=True, timeout=60)
    path, digest = out.stdout.strip().split("\t")
    return path, digest


def test_zip_and_tree_digests_agree(tmp_path):
    checkout = _checkout(tmp_path)
    z = _zip(checkout, os.path.join(checkout, "pkg.zip"))
    assert shipcheck.zip_digest(z) == shipcheck.tree_digest(
        os.path.join(checkout, "docvision_spark"))


def test_fresh_zip_inside_checkout_passes(tmp_path):
    checkout = _checkout(tmp_path)
    z = _zip(checkout, os.path.join(checkout, "pkg.zip"))
    shipcheck.verify(_executor_report(z), checkout)


def test_stale_zip_fails(tmp_path):
    checkout = _checkout(tmp_path)
    z = _zip(checkout, os.path.join(checkout, "pkg.zip"),
             replace=("extract.py", b"X = 0  # older build\n"))
    with pytest.raises(RuntimeError, match="stale zip"):
        shipcheck.verify(_executor_report(z), checkout)


def test_zip_outside_checkout_fails(tmp_path):
    checkout = _checkout(tmp_path)
    z = _zip(checkout, str(tmp_path / "elsewhere.zip"))
    with pytest.raises(RuntimeError, match="outside the checkout"):
        shipcheck.verify(_executor_report(z), checkout)
