"""The kernel-jar build: an existing jar is reused only while it holds
exactly the kernels the sources define."""

from __future__ import annotations

import shutil
import sys
import zipfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import build_java_udfs  # noqa: E402


def _classes(jar: Path) -> set[str]:
    with zipfile.ZipFile(jar) as zf:
        return {n for n in zf.namelist() if n.endswith(".class")}


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")
def test_deleted_kernel_leaves_the_jar(tmp_path, monkeypatch):
    monkeypatch.setattr(build_java_udfs, "PKG", tmp_path)
    monkeypatch.setattr(build_java_udfs, "JAR", tmp_path / "nms-udfs.jar")
    for name in ("Keep", "Gone"):
        (tmp_path / f"{name}.java").write_text(f"package nms; public class {name} {{}}\n")
    jar = build_java_udfs.build()
    assert _classes(jar) == {"nms/Keep.class", "nms/Gone.class"}

    (tmp_path / "Gone.java").unlink()
    # The jar is still newer than every remaining source.
    assert build_java_udfs.build() == jar
    assert _classes(jar) == {"nms/Keep.class"}

    def no_compile(*args, **kwargs):
        raise AssertionError("an up-to-date jar must not be rebuilt")

    monkeypatch.setattr(build_java_udfs.subprocess, "run", no_compile)
    assert build_java_udfs.build() == jar
