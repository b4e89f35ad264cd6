"""Builds the program and the benchmark from source, outside build.sbt.

Compiles src/main/scala with the Scala 2.13.17 compiler that ships in
the Spark jars ($SPARK_HOME/jars, else build.sbt's unmanagedBase), then the
benchmark's own Scala in perfbench/src against those classes. Output goes
to .bench_build/ in the checkout; a stamp of the sources skips rebuilds.

The build also writes the fixed curation input and certifies it: the
shipped graft.Verify main dumps the curation queries over it and
tools/oracle_check.py compares the dumps against the DuckDB oracles.
Every run that executes the curation queries checks its outputs against
those dumps.

Usage: python3 perfbench/build.py   (run.py calls it on every run)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    unmanagedBase: the same Spark the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


SCALA = "2.13.17"
# kept in step with CurationWorkload.Queries
CURATION_QUERIES = ["q78_semdedup", "q133_ann_graph", "q135_lang_classifier"]
CURATION_DOCS = 2000
CURATION_EMBEDDINGS = 1000

# build.sbt's forked-run JVM options (javaOptions), minus -Xmx
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SBT_RUN_OPTS = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# keeps the JVM's perf-data file out of the system temp dir: runs write
# only inside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


class BuildError(Exception):
    pass


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no program source under {ROOT}/src/main/scala")
    if not bench:
        raise BuildError(f"no benchmark source under {HERE}/src")
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fp:
            h.update(fp.read())
    return h.hexdigest()


def java_cp(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(spark_jars(), "*")])


def scalac(srcs, out, cp):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    comp = [os.path.join(spark_jars(), f"scala-{n}-{SCALA}.jar")
            for n in ("compiler", "library", "reflect")]
    missing = [c for c in comp if not os.path.exists(c)]
    if missing:
        raise BuildError(f"Scala {SCALA} compiler not found: {missing}")
    args_file = out + ".args"
    with open(args_file, "w") as fp:
        fp.write("\n".join(srcs) + "\n")
    r = subprocess.run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", out, "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed:\n{r.stdout[-4000:]}")


def run_logged(cmd, log, timeout, env=None):
    """Runs cmd in its own process group with output to `log`; on timeout
    kills the whole group and waits for it."""
    with open(log, "w") as fp:
        p = subprocess.Popen(cmd, stdout=fp, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BuildError(f"timed out after {timeout}s (log {log})")


def certify_curation(classes):
    """Writes the fixed curation tables, dumps the curation queries over
    them with the shipped graft.Verify main (a fresh JVM) and checks the
    dumps against the DuckDB oracles."""
    sys.path.insert(0, HERE)
    import gen
    cdir = os.path.join(OUT, "curation")
    if os.path.isdir(cdir):
        shutil.rmtree(cdir)
    data, dump, tmp = (os.path.join(cdir, d) for d in ("data", "verify", "tmp"))
    os.makedirs(tmp)
    gen.curation_tables(data, CURATION_DOCS, CURATION_EMBEDDINGS)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", NO_PERF_DATA] + SBT_RUN_OPTS + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", java_cp(classes),
           "graft.Verify", data, dump] + CURATION_QUERIES)
    log = os.path.join(cdir, "verify.log")
    if run_logged(cmd, log, 600, env) != 0:
        raise BuildError(f"graft.Verify failed (log {log})")
    ok, out = oracle_check(data, dump)
    if not ok:
        raise BuildError(f"curation oracle check failed:\n{out[-4000:]}")


def oracle_check(data, dump):
    """tools/oracle_check.py over a graft.Verify dump; returns (ok, output)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        data, dump], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=300)
    ok = [q for q in CURATION_QUERIES if f"[ok]   {q}:" in r.stdout]
    return r.returncode == 0 and len(ok) == len(CURATION_QUERIES), r.stdout


def build():
    """Returns the paths runs need; builds whatever is stale. The program
    (and the curation certificate, which depends on it) and the benchmark
    classes are stamped separately."""
    main, bench = sources()
    classes = os.path.join(OUT, "classes")
    bench_classes = os.path.join(OUT, "bench")
    checker = os.path.join(ROOT, "tools", "oracle_check.py")
    for key, files, make in [
            ("program", main + [os.path.join(HERE, "gen.py"), __file__, checker],
             lambda: (scalac(main, classes, java_cp()), certify_curation(classes))),
            ("bench", bench + [stamp_path("program")],
             lambda: scalac(bench, bench_classes, java_cp(classes)))]:
        want = stamp(files)
        path = stamp_path(key)
        if not os.path.exists(path) or open(path).read() != want:
            os.makedirs(OUT, exist_ok=True)
            if os.path.exists(path):
                os.remove(path)
            make()
            with open(path, "w") as fp:
                fp.write(want)
    return {"classes": classes, "bench": bench_classes,
            "curation": os.path.join(OUT, "curation")}


def stamp_path(key):
    return os.path.join(OUT, f"{key}.stamp")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
