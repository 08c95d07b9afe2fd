"""Session settings that only show in the JVM or on disk: the driver JVM's
tier-4 compile thresholds and the content-named package zip."""

from __future__ import annotations

import os
import shutil

from detecting_and_addressing_change_spark.session import package_zip


def test_driver_jvm_gets_tier4_thresholds(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    for flag in (
        "-XX:Tier4InvocationThreshold=20000",
        "-XX:Tier4MinInvocationThreshold=2400",
        "-XX:Tier4CompileThreshold=60000",
        "-XX:Tier4BackEdgeThreshold=160000",
    ):
        assert flag in args, (flag, args)


def _tree(base: str, body: str) -> str:
    pkg = os.path.join(base, "pkg")
    os.makedirs(os.path.join(pkg, "sub"))
    with open(os.path.join(pkg, "__init__.py"), "w") as f:
        f.write("")
    with open(os.path.join(pkg, "sub", "mod.py"), "w") as f:
        f.write(body)
    with open(os.path.join(pkg, "notes.txt"), "w") as f:
        f.write(body)  # not shipped
    return pkg


def test_package_zip_is_named_after_its_contents(tmp_path):
    a = _tree(str(tmp_path / "a"), "X = 1\n")
    b = _tree(str(tmp_path / "b"), "X = 2\n")
    out = str(tmp_path / "out")
    os.makedirs(out)
    za, zb = package_zip(a, out), package_zip(b, out)
    assert za != zb
    assert os.path.basename(za).startswith("daac_spark_pkg-")
    # the same tree zipped again, by a later driver or from a copy whose
    # files have other mtimes, lands on the same path and leaves it as is
    stamp = os.stat(za).st_mtime_ns
    assert package_zip(a, out) == za
    assert os.stat(za).st_mtime_ns == stamp
    c = str(tmp_path / "c" / "pkg")
    shutil.copytree(a, c)
    os.utime(os.path.join(c, "sub", "mod.py"), (0, 0))
    assert package_zip(c, out) == za
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(z) for z in (za, zb)
    )
