#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources and the benchmark
harness with the Scala compiler that ships with the Spark jars into one
jar, dumps graft's oracle SQL texts for the input generator, and records a
class-data archive so each benchmark JVM starts in about half the time.

    python3 perfbench/build.py          # from the repository root

Output goes to .bench_build/ (or $CARGO_TARGET_DIR when set), keyed by a
hash of every source file, so an unchanged tree is not rebuilt.
"""
import fcntl
import tempfile
import zipfile
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    d = os.environ.get('CARGO_TARGET_DIR') or '.bench_build'
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the install of spark-submit on
    PATH, else the jar directory build.sbt names (unmanagedBase)."""
    home = os.environ.get('SPARK_HOME')
    submit = shutil.which('spark-submit')
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, 'jars') if home else ''
    if not home and os.path.exists(os.path.join(ROOT, 'build.sbt')):
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open(os.path.join(ROOT, 'build.sbt')).read())
        jars = m.group(1) if m else ''
    if not glob.glob(os.path.join(jars, 'spark-sql_*.jar')):
        sys.exit(f'build: no Spark jars under {jars} (set SPARK_HOME)')
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, 'src', 'main', 'scala', '**', '*.scala'), recursive=True))
    if not graft:
        sys.exit('build: graft sources (src/main/scala) not found; run from the repository root')
    bench = sorted(glob.glob(os.path.join(HERE, 'scala', '**', '*.scala'), recursive=True))
    return graft + bench


def source_hash(files):
    """Hash of the sources and of this file (its JVM flags shape the build)."""
    files = files + [os.path.abspath(__file__)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# build.sbt's JVM flags that matter for a Spark session outside spark-submit
JVM_FLAGS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net', 'java.nio',
    'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic', 'sun.nio.ch',
    'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')] + [
    '-XX:-UsePerfData', '-Xss8m', '-Xms3g', '-Xmx3g', '-XX:G1HeapRegionSize=16m',
    '-XX:SoftRefLRUPolicyMSPerMB=2500', '-XX:ReservedCodeCacheSize=512m',
    '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC', '-XX:TieredStopAtLevel=1']


def run_java(args, what):
    r = subprocess.run(['java', '-XX:-UsePerfData'] + args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f'build: {what} failed')


class Build:
    """The built artifacts: the jar, the classpath, the oracle dump and the
    class-data archive."""

    def __init__(self, out, key, jars):
        self.dir = os.path.join(out, f'build-{key}')
        self.jar = os.path.join(self.dir, 'graftbench.jar')
        self.classpath = self.jar + os.pathsep + os.path.join(jars, '*')
        self.oracles = os.path.join(self.dir, 'oracle_sql.json')
        self.archive = os.path.join(self.dir, 'graftbench.jsa')

    def java(self, *args):
        return ['java'] + JVM_FLAGS + [f'-XX:SharedArchiveFile={self.archive}', '-Xshare:auto',
                                       '-cp', self.classpath] + list(args)


def build():
    """Return the Build for the current sources, compiling if needed."""
    jars = spark_jars()
    files = sources()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    b = Build(out, source_hash(files), jars)
    with open(os.path.join(out, 'build.lock'), 'w') as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(b.dir, '.ok')):
            return b
        for old in glob.glob(os.path.join(out, 'build-*')):
            shutil.rmtree(old, ignore_errors=True)
        classes = os.path.join(b.dir, 'classes')
        os.makedirs(classes)
        run_java(['-Xss8m', '-Xmx2g', f'-Djava.io.tmpdir={b.dir}', '-cp', os.path.join(jars, '*'), 'scala.tools.nsc.Main',
                  '-nowarn', '-d', classes, '-classpath', os.path.join(jars, '*')] + files,
                 'compilation')
        with zipfile.ZipFile(b.jar, 'w') as z:
            for f in sorted(glob.glob(os.path.join(classes, '**', '*.class'), recursive=True)):
                z.write(f, os.path.relpath(f, classes))
        shutil.rmtree(classes)
        run_java(['-Xmx1g', f'-Djava.io.tmpdir={b.dir}', '-cp', b.classpath, 'graftbench.DumpOracles', b.oracles], 'oracle dump')
        with tempfile.TemporaryDirectory(dir=out) as tmp:
            run_java(JVM_FLAGS + [f'-XX:ArchiveClassesAtExit={b.archive}', f'-Djava.io.tmpdir={tmp}',
                                  '-cp', b.classpath, 'graftbench.CdsTrain', tmp],
                     'class-data archive')
        open(os.path.join(b.dir, '.ok'), 'w').close()
    return b


if __name__ == '__main__':
    print(build().jar)
