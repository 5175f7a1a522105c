"""Pins for the driver JVM settings of ``session.get_spark``: the driver
runs ``JIT_COMPILER_THREADS`` JIT compiler threads, and a caller's own
``spark.driver.extraJavaOptions`` still reach the JVM after the setting
(so a caller's later ``-XX:CICompilerCount`` would win)."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

from opendata_gov_lt_mysql_import_spark.session import JIT_COMPILER_THREADS

FLAG = f"-XX:CICompilerCount={JIT_COMPILER_THREADS}"
ROOT = pathlib.Path(__file__).resolve().parents[1]

# prints the driver JVM's command-line options and CICompilerCount as JSON
_PROBE = """
import json
from opendata_gov_lt_mysql_import_spark.session import get_spark
from tests.test_session import _driver_jvm
spark = get_spark(app_name="session-probe",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dfoo.bar=1"})
print(json.dumps(_driver_jvm(spark)))
spark.stop()
"""


def _driver_jvm(spark) -> tuple[list[str], str]:
    """(command-line options, CICompilerCount in effect) of the driver."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory
    hs = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    return (
        list(mx.getRuntimeMXBean().getInputArguments()),
        mx.getPlatformMXBean(hs).getVMOption("CICompilerCount").getValue(),
    )


def test_shared_session_runs_two_jit_compiler_threads(spark):
    args, compilers = _driver_jvm(spark)
    assert FLAG in args
    assert compilers == str(JIT_COMPILER_THREADS)


def test_callers_java_options_keep_the_setting():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, capture_output=True, text=True,
        timeout=300, check=True,
    )
    args, compilers = json.loads(proc.stdout.strip().splitlines()[-1])
    assert FLAG in args and "-Dfoo.bar=1" in args, args
    # Spark puts spark.driver.defaultJavaOptions first
    assert args.index(FLAG) < args.index("-Dfoo.bar=1")
    assert compilers == str(JIT_COMPILER_THREADS)
