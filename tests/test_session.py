"""``get_spark`` starts the driver JVM with the engine's JIT flags, read
back from HotSpot itself, and a caller's own
``spark.driver.extraJavaOptions`` still reaches that JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from hrfco_data_pipeline_spark.session import JIT_FLAGS

# {"CICompilerCount": "2", ...} from "-XX:<name>=<value> ..."
EXPECTED = dict(opt.removeprefix("-XX:").split("=") for opt in JIT_FLAGS.split())


def _vm_options(jvm, names) -> dict[str, tuple[str, str]]:
    """(value, origin) of each HotSpot flag, as the running VM reports it."""
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {n: (bean.getVMOption(n).getValue(), bean.getVMOption(n).getOrigin().toString()) for n in names}


def test_session_jvm_runs_with_the_jit_flags(spark):
    """The test session came from ``get_spark``: its JVM holds every
    flag, set on the command line, and the tier-4 thresholds the
    feedback scales keep HotSpot's defaults."""
    assert set(EXPECTED) == {"CICompilerCount", "Tier4LoadFeedback"}
    flags = _vm_options(spark._jvm, [*EXPECTED, "Tier4InvocationThreshold"])
    assert {n: flags[n] for n in EXPECTED} == {n: (v, "VM_CREATION") for n, v in EXPECTED.items()}
    assert flags["Tier4InvocationThreshold"][1] == "DEFAULT"


PROBE = """
import json
from hrfco_data_pipeline_spark.session import get_spark
from tests.test_session import EXPECTED, _vm_options

spark = get_spark(app_name="session-probe", master="local[1]", extra_conf={
    "spark.driver.memory": "512m",
    "spark.driver.extraJavaOptions": "-Dhrfco.probe=caller -XX:Tier4BackEdgeThreshold=45000",
})
jvm = spark._jvm
print(json.dumps({
    "property": jvm.java.lang.System.getProperty("hrfco.probe"),
    "flags": _vm_options(jvm, [*EXPECTED, "Tier4BackEdgeThreshold"]),
}))
spark.stop()
"""


def test_caller_extra_java_options_reach_the_jvm_next_to_the_jit_flags():
    """A fresh JVM (a subprocess: the test session's JVM is already up)
    started with a caller's ``spark.driver.extraJavaOptions`` holds both
    the caller's system property and flag and the engine's JIT flags."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", PROBE], cwd=repo, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["property"] == "caller"
    assert got["flags"] == {
        **{n: [v, "VM_CREATION"] for n, v in EXPECTED.items()},
        "Tier4BackEdgeThreshold": ["45000", "VM_CREATION"],
    }
