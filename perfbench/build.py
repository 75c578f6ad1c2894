"""Build file of the benchmark package.

    python3 perfbench/build.py        # from the repository root

Compiles the library sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory, with the
Scala compiler that ships in Spark's jar directory, and packs the
classes and the library's resources into one jar. Then a priming JVM
(perfbench.Prime) scans, GFE-builds and loads the base release, which
does not depend on the seed, into a fixture every run starts from,
serves one round of reads, and dumps, at exit, a class-data sharing
archive of the classes it loaded; measured runs map that
archive instead of parsing and verifying the same ~10k Spark classes
again, which takes seconds off every session start. The output lands in
.bench_build/perfbench and is reused while no source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "classes.jsa"
FIXTURES = OUT / "fixtures"
RESOURCES = ROOT / "src" / "main" / "resources"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: run from the repository root (src/main/scala missing)")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def java_command(work, main_args, share=None):
    """The JVM every benchmark process runs in; `work` holds its files.
    JVM log lines go to stderr, so stdout carries only results. `share`
    is the class-data sharing flag; by default the build's archive.

    The JIT stops at C1 (TieredStopAtLevel=1). A run is a fresh JVM of
    under a minute; with C2 on, two of the four cores compile for the
    whole run (about 80 CPU-seconds of C2 work a run) and the code never
    settles, so every measured window shares the host with the compiler.
    C1 alone settles within set-up: runs were 10-35% shorter with read
    latencies no worse, at the cost of CPU-bound code (the flat-file
    parser) running about a quarter slower than C2 would make it. C1
    alone gets a 48 MB code cache by default, which a run all but fills
    (and the priming run overflows, which stops the JIT), hence 256 MB."""
    if share is None:
        share = f"-XX:SharedArchiveFile={ARCHIVE}" if ARCHIVE.exists() else "-Xshare:auto"
    return (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", share,
             "-Xlog:all=warning:stderr",
             f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
             f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
            + ["-cp", os.pathsep.join([str(JAR), str(spark_jars() / "*")])]
            + list(main_args))


def run_jvm(work, main_args, share=None, **kw):
    """Start a benchmark JVM with its own scratch directory."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    return subprocess.Popen(java_command(work, main_args, share), env=env, **kw)


def compile_classes():
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
                    "-classpath", jars] + [str(p) for p in sources()],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)


def pack_jar():
    """Classes and resources in one jar: class-data sharing archives
    classes from jars only."""
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base in (CLASSES, RESOURCES):
            for p in sorted(base.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(base).as_posix())


def prime():
    """Run perfbench.Prime: write the fixtures, archive the classes."""
    shutil.rmtree(FIXTURES, ignore_errors=True)
    work = OUT / "work" / "prime"
    proc = run_jvm(work, ["perfbench.Prime", str(FIXTURES), str(work)],
                   share=f"-XX:ArchiveClassesAtExit={ARCHIVE}", stdout=sys.stderr)
    try:
        code = proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "a timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not ARCHIVE.exists():
        sys.exit(f"perfbench: the priming run ended with {code}")


def build():
    """Compile, pack and prime when any source or resource changed;
    returns the jar."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in sources() + sorted(p for p in RESOURCES.rglob("*") if p.is_file()):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "build.sha256"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and JAR.exists():
        return JAR
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    compile_classes()
    pack_jar()
    prime()
    stamp.write_text(h.hexdigest())
    return JAR


if __name__ == "__main__":
    print(build())
