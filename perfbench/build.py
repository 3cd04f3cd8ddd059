"""Build file of the perfbench JVM program.

Compiles graft's own sources (src/main/scala at the repository root)
together with perfbench/scala, with the Scala
compiler that ships among the Spark jars. No sbt, no network: the
classpath is the Spark distribution alone, as for graft itself.

The classes are packaged as one jar, and a short app_session run on tiny
inputs dumps a JDK class-data-sharing archive of every class it loads,
which the measured JVMs map instead of parsing Spark's jars again.

The output lives under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench` in the repository root) and is rebuilt only
when a source file or workloads.json changes.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")

def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt names
    as `unmanagedBase`, else the jars of an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    with open(os.path.join(ROOT, "build.sbt")) as f:
        cands += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler found")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources missing ({PROGRAM_SRC})")
    out = []
    for d in (PROGRAM_SRC, BENCH_SRC):
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def classpath(jar):
    return f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def sbt_java_options():
    """The JVM options build.sbt gives graft's forked runs: its JDK module
    opens (`jdk17AddOpens`) and its `-D` system properties. The heap is
    the benchmark's own (workloads.json)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    if not m:
        raise SystemExit("perfbench: build.sbt declares no jdk17AddOpens")
    opts = []
    for p in re.findall(r'"([^"]+)"', m.group(1)):
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + re.findall(r'"(-D[^"]+)"', sbt)


def java_command(jar, heap, tmpdir, args, cds=None):
    """The command line of the perfbench JVM."""
    opts = sbt_java_options() + [f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData",
                                 f"-Djava.io.tmpdir={tmpdir}"]
    if cds:
        opts.append(cds)
    return ["java"] + opts + ["-cp", classpath(jar), "graft.perfbench.Main"] + args


def model_dir():
    """The scoring PipelineModel app_session loads, trained by the build."""
    return os.path.join(work_dir(), "scoring-model")


def build(log=sys.stderr):
    """Compile, package and archive if any source changed. Returns
    (jar, cds archive)."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.join(HERE, "workloads.json")]:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    work = work_dir()
    jar = os.path.join(work, "graft-perfbench.jar")
    cds = os.path.join(work, "graft-perfbench.jsa")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, cds
    for p in (stamp_file, jar, cds):
        if os.path.exists(p):
            os.remove(p)
    classes = os.path.join(work, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    dump_cds(jar, cds, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, cds


def dump_cds(jar, cds, log):
    """Train the scoring model on tiny inputs, then archive the classes an
    app_session run of one request block on them loads (JDK class data sharing), so every
    measured JVM starts without re-parsing Spark's and graft's classes. A
    JVM that cannot use the archive runs without it."""
    import gen
    base = os.path.join(work_dir(), "cds-run")
    shutil.rmtree(base, ignore_errors=True)
    spec = gen.tiny_spec(gen.load_spec())
    spec_path = os.path.join(base, "workloads.json")
    gen.generate(os.path.join(base, "data"), 0, spec)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    out = os.path.join(base, "out")
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    print("perfbench: archiving classes", file=log, flush=True)
    shutil.rmtree(model_dir(), ignore_errors=True)
    # long enough to send one whole block of the request script, so every
    # request type's classes are archived
    block = spec["session"]["block"]
    seconds = sum(block.values()) / spec["session"]["requests_per_second"]
    args = ["--data", os.path.join(base, "data"), "--out", out, "--spec", spec_path,
            "--seconds", f"{seconds:.3f}", "--trace", "0", "--model", model_dir()]
    r = subprocess.run(java_command(jar, spec["jvm_heap"], tmp,
                                    args + ["--workload", "train_model"]),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT)
    if r.returncode == 0:
        r = subprocess.run(java_command(jar, spec["jvm_heap"], tmp,
                                        args + ["--workload", "app_session"],
                                        cds=f"-XX:ArchiveClassesAtExit={cds}"),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT)
    shutil.rmtree(base, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(cds):
        raise SystemExit(f"perfbench: class archive run failed ({r.returncode})")


if __name__ == "__main__":
    print(build())
