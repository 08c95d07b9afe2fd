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


def test_session_leaves_no_package_zip(tmp_path):
    """A driver that starts and stops a session and exits leaves no
    package zip in its ``$TMPDIR``: the zip lives in a per-process
    directory that an atexit hook removes."""
    import subprocess
    import sys

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(
            [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    code = (
        "import glob, os\n"
        "from detecting_and_addressing_change_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]')\n"
        "assert spark.range(3).count() == 3\n"
        "assert glob.glob(os.path.join(os.environ['TMPDIR'], '*',"
        " 'daac_spark_pkg-*.zip'))\n"
        "spark.stop()\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=str(tmp_path),
        check=True, timeout=300,
    )
    left = [
        os.path.join(d, f)
        for d, _, files in os.walk(tmp)
        for f in files
        if f.startswith("daac_spark_pkg-")
    ]
    assert left == []
