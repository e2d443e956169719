"""The benchmark's Spark session: fitted to the host, confined to the
checkout, and stopped with every process it started."""

from __future__ import annotations

import json
import os
import time

import procfs

# the driver JVM's heap; the rest of the host is left to the Python workers
# and to whatever else shares the machine
MAX_DRIVER_MEM_MB = 3072
# how long stop() waits for the JVM and for each Python worker to exit
STOP_TIMEOUT_S = 60.0


def host_settings(root: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {
        "cores": cores,
        "mem_total_mb": mem_kb // 1024,
        "driver_mem_mb": min(MAX_DRIVER_MEM_MB, mem_kb // 1024 // 4),
        "python_path": root,
    }


def start(root: str, work: str, host: dict, trace: bool):
    """A SparkSession at ``local[cores]`` whose scratch files stay under
    ``work``.  Python workers get ``PYTHONPATH=root``: without it a run
    started outside the repository root fails in the executors with
    ``ModuleNotFoundError: webdedup``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, temp
    # files under the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    os.environ["WEBDEDUP_DRIVER_MEM"] = f"{host['driver_mem_mb']}m"
    # shuffle and block files under the checkout, on disk, not in the
    # product's default /dev/shm/spark-local: a run writes only inside its
    # checkout
    os.environ["WEBDEDUP_LOCAL_DIR"] = os.path.join(work, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        # keep every job and stage of the run for the attribution
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    from webdedup.session import get_spark
    spark = get_spark("perfbench", cores=host["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def python_worker_cpu_s() -> float:
    """CPU seconds of the JVM's Python daemon and workers, reaped ones
    included (the JVM's own threads excluded)."""
    from pyspark import SparkContext
    stats = procfs.read_all()
    pid = SparkContext._gateway.proc.pid
    tree = [st for st in procfs.subtree(stats, pid) if st["pid"] != pid]
    jvm = stats.get(pid)
    reaped = (jvm["cutime"] + jvm["cstime"]) / procfs.CLK_TCK if jvm else 0.0
    return procfs.cpu_s(tree) + reaped


def stop(spark) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = ([st["pid"] for st in procfs.subtree(procfs.read_all(), proc.pid)
                if st["pid"] != proc.pid] if proc else [])
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return procfs.parse_stat(f.read())["state"] != "Z"
    except FileNotFoundError:
        return False


def set_job_group(sc, group: str | None) -> None:
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


def status_store(sc) -> tuple[list[dict], list[dict]]:
    """All retained jobs and stage attempts, as JSON-decoded dicts."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())))
    return jobs, stages
