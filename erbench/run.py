"""Entity-resolution benchmark: one command for every workload.

    python3 erbench/run.py --workload {batch,neardup} --seed N \
        --seconds S --trace {0,1} [--cores 4 --partitions 4 --heap 3g]

Run from the repository root. Builds the program and the benchmark client
from source when they changed (erbench/build.py), then runs the client in
one JVM with a pinned shape: Spark local[cores], `cores` shuffle
partitions, a fixed pre-touched heap (-Xms = -Xmx) and the parallel
collector. The last line of standard output is the result object; the line
before it records the run shape and the host's load average, CPU
pressure and cumulative steal time at start and end (for diagnosis only). Exits non-zero, without a
result, if the program's sources are missing or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# A run must end well inside the 180 s a run is allowed.
JVM_TIMEOUT_S = 165


def host_state():
    def read(path):
        try:
            with open(path) as fh:
                return fh.read().strip()
        except OSError:
            return None
    load = read("/proc/loadavg")
    stat = read("/proc/stat")
    steal = int(stat.split("\n")[0].split()[8]) / os.sysconf("SC_CLK_TCK") if stat else None
    return {"loadavg": load.split()[:3] if load else None,
            "cpu_pressure": read("/proc/pressure/cpu"), "steal_s": steal}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["batch", "neardup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--partitions", type=int, default=4)
    p.add_argument("--heap", default="3g")
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: self-check size")
    p.add_argument("--break-check", action="store_true",
                   help="self-check only: make every op of the first kind fail its check")
    a = p.parse_args()

    classes = build.build()
    run_root = os.path.join(build.TARGET, "run")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xms{a.heap}", f"-Xmx{a.heap}", "-XX:+AlwaysPreTouch",
            "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graft.erbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(a.cores), "--partitions", str(a.partitions),
              "--scale", a.scale, "--root", run_root,
              "--break-check", "1" if a.break_check else "0"])
    # neither the program's A/B knobs nor extra JVM options may leak into a run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))
           and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"

    start = host_state()
    t0 = time.time()
    # a terminated run.py must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"erbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = out.splitlines()
    results = [i for i, l in enumerate(lines) if l.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        sys.stderr.write(out)
        sys.exit(f"erbench: benchmark JVM exited with {proc.returncode} and no result")
    result = lines.pop(results[-1])
    for line in lines:
        print(line)
    print(json.dumps({"run_shape": {
        "cores": a.cores, "shuffle_partitions": a.partitions, "heap": a.heap,
        "gc": "parallel", "pretouch": True, "scale": a.scale,
        "wall_s": round(time.time() - t0, 3)},
        "host_start": start, "host_end": host_state()}))
    print(result)


if __name__ == "__main__":
    main()
