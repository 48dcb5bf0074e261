"""Checks that executors import the checked-out ``docvision_spark``.

``shipping.build_zip`` reuses any zip of the same EXTRACTOR_VERSION it finds
in the temp directory, so a stale zip would make a run measure other code.
The executor reports where it imported the package from and a digest of
the package source it sees; the driver compares both with the checkout.
"""

from __future__ import annotations

import hashlib
import os
import zipfile


def _digest(files: list[tuple[str, bytes]]) -> str:
    h = hashlib.sha256()
    for rel, data in sorted(files):
        h.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
    return h.hexdigest()


def tree_digest(pkg_dir: str) -> str:
    """Digest of the .py files under a package directory."""
    files = []
    for dirpath, _dirs, names in os.walk(pkg_dir):
        if "__pycache__" in dirpath:
            continue
        for fn in names:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    files.append((os.path.relpath(full, pkg_dir), f.read()))
    return _digest(files)


def zip_digest(archive: str, pkg: str = "docvision_spark") -> str:
    """Digest of the .py members under ``pkg/`` in a zip, comparable with
    ``tree_digest`` of the package directory."""
    prefix = pkg + "/"
    with zipfile.ZipFile(archive) as zf:
        return _digest([(n[len(prefix):], zf.read(n)) for n in zf.namelist()
                        if n.startswith(prefix) and n.endswith(".py")])


def imported_package_report(_rows=None):
    """Runs on an executor: (file, digest) of the ``docvision_spark`` that
    its Python worker imports."""
    import zipimport

    import docvision_spark

    loader = docvision_spark.__spec__.loader
    if isinstance(loader, zipimport.zipimporter):
        digest = zip_digest(loader.archive)
    else:
        digest = tree_digest(os.path.dirname(docvision_spark.__file__))
    yield docvision_spark.__file__, digest


def verify(report: tuple[str, str], checkout: str) -> None:
    """Raise unless the executor's package lies inside ``checkout`` and
    has the same source as ``checkout/docvision_spark``."""
    path, digest = report
    root = os.path.realpath(checkout) + os.sep
    if not os.path.realpath(path).startswith(root):
        raise RuntimeError(
            f"executor imported docvision_spark from {path}, outside the "
            f"checkout {checkout}")
    want = tree_digest(os.path.join(checkout, "docvision_spark"))
    if digest != want:
        raise RuntimeError(
            f"executor imported docvision_spark from {path}, whose source "
            f"differs from the checkout (stale zip?): {digest[:12]} != "
            f"{want[:12]}")
