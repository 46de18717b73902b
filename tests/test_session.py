"""Session-factory defaults: the generated-code class cache holds the
engine's working set, the driver heap is sized from the host, and the
driver JVM keeps planning code off HotSpot's C2 compiler."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.session import JIT_DIRECTIVES, driver_mem


def _compiles(spark) -> int:
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlasts_spark_default(spark):
    """More than Spark's default 100 distinct generated classes, then
    the first of them again: a re-planned query reuses its compiled
    class instead of recompiling it. Each plan inlines its own int
    literal, so each generates distinct code."""

    def run(i: int) -> None:
        # a fresh plan each call; executing the physical plan compiles
        # its whole-stage code on the driver (the RDD is left unrun)
        df = spark.range(0, 1, 1, 1).select(
            # literals no other test inlines, so every first run compiles
            (F.col("id") * 7919 + (9_100_000 + i)).alias("x")
        )
        df._jdf.queryExecution().executedPlan().execute()

    before = _compiles(spark)
    for i in range(110):
        run(i)
    assert _compiles(spark) - before >= 110
    rerun = _compiles(spark)
    for i in range(15):
        run(i)
    assert _compiles(spark) == rerun


def test_driver_mem_is_a_quarter_of_memtotal(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = (
        "MemTotal:       16456384 kB\n"
        "MemFree:        14691036 kB\n"
        "MemAvailable:   15926612 kB\n"
    )
    assert driver_mem(meminfo) == "4017m"
    # MemTotal is found by name, not by line position
    assert driver_mem("MemFree: 1 kB\nMemTotal: 134217728 kB\n") == "32768m"
    # a tiny host still gets a usable heap
    assert driver_mem("MemTotal: 1048576 kB\n") == "1024m"
    # unreadable text falls back
    assert driver_mem("garbage\n") == "2g"
    assert driver_mem("MemTotal: lots kB\n") == "2g"


def test_driver_mem_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert driver_mem("MemTotal: 134217728 kB\n") == "6g"


def _directives(spark) -> str:
    """The compiler directives installed in the driver JVM, as
    ``jcmd <pid> Compiler.directives_print`` shows them. The platform
    MBean server's class is not exported, so py4j calls ``invoke``
    through its public interface."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    cls = jvm.java.lang.Class
    sig = gw.new_array(cls, 4)
    for i, name in enumerate((
        "javax.management.ObjectName", "java.lang.String",
        "[Ljava.lang.Object;", "[Ljava.lang.String;",
    )):
        sig[i] = cls.forName(name)
    invoke = cls.forName("javax.management.MBeanServer").getMethod("invoke", sig)
    args = gw.new_array(jvm.java.lang.Object, 4)
    args[0] = jvm.javax.management.ObjectName(
        "com.sun.management:type=DiagnosticCommand"
    )
    args[1] = "compilerDirectivesPrint"
    args[2] = gw.new_array(jvm.java.lang.Object, 0)
    args[3] = gw.new_array(jvm.java.lang.String, 0)
    server = jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer()
    return invoke.invoke(server, args)


def _c2_excluded(spark) -> set[str]:
    """Method patterns of the installed directives whose c2 block
    excludes them."""
    out: set[str] = set()
    for block in _directives(spark).split("Directive:")[1:]:
        matching = block.split("matching:")[1].splitlines()[0]
        c2 = block.split("c2 directives:")[1]
        if " Exclude:true" in c2:
            out |= {m.strip() for m in matching.split(",")}
    return out


def test_driver_jvm_keeps_planning_code_off_c2(spark):
    with open(JIT_DIRECTIVES) as fh:
        (directive,) = json.load(fh)
    assert directive["c2"] == {"Exclude": True}
    assert "c1" not in directive
    assert {"org/codehaus/janino/*.*", "py4j/*.*"} <= set(directive["match"])
    assert _c2_excluded(spark) == set(directive["match"])


def test_get_spark_leaves_extra_java_options_to_the_caller(spark):
    """The engine's JVM flags go in spark.driver.defaultJavaOptions, so
    the caller's slot stays free (Spark itself appends its module
    options to it once the context is up)."""
    conf = spark.sparkContext.getConf()
    assert "CompilerDirectivesFile" not in conf.get(
        "spark.driver.extraJavaOptions", ""
    )
    assert f"-XX:CompilerDirectivesFile={JIT_DIRECTIVES}" in conf.get(
        "spark.driver.defaultJavaOptions"
    )


_EXTRA_OPTIONS_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from test_session import _c2_excluded
from neo4j_to_clickhouse_spark.session import get_spark

spark = get_spark(
    "probe", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions":
                "-XX:CompilerDirectivesFile=" + sys.argv[2]},
)
print(json.dumps(sorted(_c2_excluded(spark))))
"""


def test_caller_extra_java_options_win(tmp_path):
    """A flag the caller repeats in spark.driver.extraJavaOptions
    overrides the engine's (Spark passes it after the default options,
    and HotSpot keeps the last): the caller's directives file replaces
    the engine's. Run in a subprocess: JVM options apply only when
    get_spark launches the JVM."""
    own = tmp_path / "directives.json"
    own.write_text(json.dumps(
        [{"match": ["java/lang/String.hashCode"], "c2": {"Exclude": True}}]
    ))
    here = os.path.dirname(os.path.abspath(__file__))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _EXTRA_OPTIONS_PROBE, here, str(own)],
        cwd=os.path.dirname(here), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == ["java/lang/String.hashCode"]
