"""A local filesystem for sink writes that does not fork `chmod`.

pyspark ships the Hadoop client jars without libhadoop, so
`RawLocalFileSystem.setPermission` forks `chmod` for every file and
directory a write task creates: 472 processes for one routed pass of
191 sinks.  `jvm/NoForkLocalFileSystem.java` overrides it with the
JDK's `Files.setPosixFilePermissions`, which sets the same mode bits
without a process.

The jar is built from that source the first time a local sink is
written (`build_jar`, also run by `scripts/make_pyfiles.sh`: the one
build path), into `dist/pysyslog-localfs-<sha8 of the source>.jar`,
and loaded once per SparkContext.  Any failure (no `javac`, `dist/` not
writable, a class-load error) falls back to `RawLocalFileSystem` with
one warning; the sinks written are the same either way.

    python -m pysyslog.localfs      # build the jar, print its path
"""

from __future__ import annotations

import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import warnings
import zipfile

import pyspark
from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

NO_FORK_FS = "pysyslog.jvm.NoForkLocalFileSystem"
FALLBACK_FS = "org.apache.hadoop.fs.RawLocalFileSystem"
JAVA_SRC = pathlib.Path(__file__).with_name("jvm") / "NoForkLocalFileSystem.java"
JAR_DIR = pathlib.Path(__file__).resolve().parent.parent / "dist"

# SparkContext applicationId -> the `fs.file.impl` class chosen for it
_CHOSEN: dict[str, str] = {}

# no javac, `dist/` not writable, javac failing, a class-load error
_BUILD_OR_LOAD_ERRORS = (OSError, subprocess.CalledProcessError, Py4JError)


def build_jar() -> pathlib.Path:
    """Return the jar for the current Java source, compiling it against
    pyspark's `hadoop-client-api` jar first if it is missing.  Raises
    on any failure."""
    sha8 = hashlib.sha256(JAVA_SRC.read_bytes()).hexdigest()[:8]
    jar = JAR_DIR / f"pysyslog-localfs-{sha8}.jar"
    if jar.exists():
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise FileNotFoundError("no javac on PATH")
    api = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars",
                                 "hadoop-client-api-*.jar"))
    JAR_DIR.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=JAR_DIR) as tmp:
        classes = pathlib.Path(tmp, "classes")
        subprocess.run([javac, "--release", "17", "-cp", os.pathsep.join(api),
                        "-d", str(classes), str(JAVA_SRC)],
                       check=True, capture_output=True)
        # written beside the target and renamed, so a concurrent
        # reader never sees a partial jar
        partial = pathlib.Path(tmp, jar.name)
        with zipfile.ZipFile(partial, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sorted(classes.rglob("*.class")):
                z.write(p, p.relative_to(classes).as_posix())
        os.replace(partial, jar)
    return jar


def local_fs_impl(spark: SparkSession) -> str:
    """The `fs.file.impl` class for a local sink write: the no-fork
    class, loaded into this SparkContext on its first call, or
    `RawLocalFileSystem` when that fails (warned once per context)."""
    sc = spark.sparkContext
    impl = _CHOSEN.get(sc.applicationId)
    if impl is None:
        try:
            jar = str(build_jar())
            # executors load the class through the added jar; the
            # driver-side committer resolves `fs.file.impl` through the
            # Hadoop conf's class loader, which must see the jar too
            jss = spark._jsparkSession
            jss.sessionState().resourceLoader().addJar(jar)
            hconf = sc._jsc.hadoopConfiguration()
            hconf.setClassLoader(jss.sharedState().jarClassLoader())
            hconf.getClassByName(NO_FORK_FS)
            impl = NO_FORK_FS
        except _BUILD_OR_LOAD_ERRORS as e:
            warnings.warn(
                f"local sinks use {FALLBACK_FS}, which forks chmod per "
                f"file and directory: {NO_FORK_FS} is unavailable ({e})",
                stacklevel=2)
            impl = FALLBACK_FS
        _CHOSEN[sc.applicationId] = impl
    return impl


if __name__ == "__main__":
    try:
        print(build_jar())
    except _BUILD_OR_LOAD_ERRORS as e:
        print(f"local-fs jar not built ({e}); local sinks will use "
              f"{FALLBACK_FS}", file=sys.stderr)
