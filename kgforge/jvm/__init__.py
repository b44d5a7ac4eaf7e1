"""The JVM lexicon matcher (LexiconMatch.java): its jar, and its registration
as a Spark SQL function.

Where the class comes from, first hit wins:

1. It is already loadable, e.g. from ``spark-submit --jars
   dist/kgforge-matcher.jar`` (``tools/make_pyfiles.py`` builds that jar).
2. Otherwise the committed source is compiled with ``javac --release 17``
   into a jar cached under ``tempfile.gettempdir()``, named by the source's
   sha256, and added to the running session with ``ADD JAR`` (no session
   conf changes, so a session created elsewhere can use it too).
3. Otherwise (no JDK on the driver and no jar) ``register`` returns False
   and extraction keeps the ``mapInPandas`` matcher.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pathlib
import pkgutil
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MATCHER_CLASS = "kgforge.jvm.LexiconMatch"
MATCHER_FUNCTION = "kgforge_lexicon_match"
MATCHER_SOURCE = pkgutil.get_data(__name__, "LexiconMatch.java")
# the fingerprint walk (kgforge/certify.py) hashes UPPER_CASE str constants,
# so every key that reaches extract_mentions re-fingerprints with the source
MATCHER_SHA256 = hashlib.sha256(MATCHER_SOURCE).hexdigest()
MATCH_TYPE = ArrayType(
    StructType(
        [
            StructField("surface", StringType()),
            StructField("begin", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)

# the Spark jars the source compiles against (UDF2/Row/RowFactory, SparkFiles)
_COMPILE_JARS = ("spark-sql-api_*.jar", "spark-core_*.jar")


def _spark_jars_dir() -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def build_jar(out_path: str) -> str:
    """Compile LexiconMatch.java into a jar at ``out_path``. Deterministic:
    sorted entries with fixed timestamps, so an unchanged source yields a
    byte-identical jar. Raises OSError/CalledProcessError without a JDK."""
    jars_dir = _spark_jars_dir()
    classpath = [p for pat in _COMPILE_JARS for p in glob.glob(os.path.join(jars_dir, pat))]
    work = tempfile.mkdtemp(prefix="kgforge-javac-")
    try:
        src = os.path.join(work, "LexiconMatch.java")
        with open(src, "wb") as f:
            f.write(MATCHER_SOURCE)
        classes = os.path.join(work, "classes")
        subprocess.run(
            ["javac", "--release", "17", "-encoding", "UTF-8", "-nowarn",
             "-cp", os.pathsep.join(classpath), "-d", classes, src],
            check=True, capture_output=True,
        )
        entries = sorted(
            os.path.relpath(os.path.join(d, fn), classes)
            for d, _, fns in os.walk(classes) for fn in fns
        )
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
        tmp = f"{out_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for arc, data in [
                ("META-INF/MANIFEST.MF", b"Manifest-Version: 1.0\r\n\r\n"),
                *((e, pathlib.Path(classes, e).read_bytes()) for e in entries),
            ]:
                info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0o644 << 16
                zf.writestr(info, data)
        os.replace(tmp, out_path)  # atomic: a concurrent build sees old or new
        return out_path
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cached_jar() -> str | None:
    """The jar for this source, compiled once per source version and host;
    None when it cannot be built (no JDK)."""
    path = os.path.join(tempfile.gettempdir(), f"kgforge-matcher-{MATCHER_SHA256[:16]}.jar")
    if os.path.exists(path):
        return path
    try:
        return build_jar(path)
    except (OSError, subprocess.CalledProcessError):
        return None


def _register_function(spark: SparkSession) -> bool:
    try:
        spark.udf.registerJavaFunction(MATCHER_FUNCTION, MATCHER_CLASS, MATCH_TYPE)
        return True
    except AnalysisException:  # "Can not load class": not on the classpath
        return False


def register(spark: SparkSession) -> bool:
    """Make ``MATCHER_FUNCTION`` callable in ``spark``'s SQL; False when the
    class can neither be loaded nor built."""
    if spark.catalog.functionExists(MATCHER_FUNCTION) or _register_function(spark):
        return True
    jar = cached_jar()
    if jar is None:
        return False
    # ADD JAR also makes the session's jar class loader the calling thread's
    # context loader. The codegen cache keys each class by that loader, so a
    # plan would then compile once per loader its threads carry; the UDF
    # object is built here and its generated code names no kgforge class,
    # so the thread gets its loader back once the function is registered.
    thread = spark._jvm.java.lang.Thread.currentThread()
    loader = thread.getContextClassLoader()
    try:
        spark.sql(f"ADD JAR '{jar}'")
        return _register_function(spark)
    finally:
        thread.setContextClassLoader(loader)
