#!/usr/bin/env python
"""Compile the JVM similarity kernels into
record_linkage_ldu_spark/jvm/kernels.jar.

The jar is committed so clusters without a JDK can use it; rebuild
with this script after editing the Java sources (needs javac 11+ and
the Spark jars for the UDF2 interface).
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "record_linkage_ldu_spark", "jvm")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")


def main() -> str:
    srcs = glob.glob(os.path.join(JVM_DIR, "src", "rlds", "*.java"))
    if not srcs:
        raise SystemExit("no java sources found")
    cp = ":".join(glob.glob(os.path.join(SPARK_JARS, "spark-sql*.jar"))
                  + glob.glob(os.path.join(SPARK_JARS, "spark-catalyst*.jar")))
    out_jar = os.path.join(JVM_DIR, "kernels.jar")
    with tempfile.TemporaryDirectory() as tmp:
        subprocess.run(
            ["javac", "--release", "11", "-classpath", cp, "-d", tmp, *srcs],
            check=True,
        )
        subprocess.run(
            ["jar", "cf", out_jar, "-C", tmp, "rlds"], check=True
        )
    print(out_jar)
    return out_jar


if __name__ == "__main__":
    main()
