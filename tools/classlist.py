#!/usr/bin/env python3
"""Regenerates src/main/scala/graft/core/ClassList.scala, the list of classes
that graft.core.Preload loads ahead of a cold graft.Main call.

It compiles a copy of src/main/scala whose list is empty (so the classes the
old list preloads cannot keep themselves in the new one), writes a small
planted-cluster table, runs one cold graft.Main single-linkage call on it
under -Xlog:class+load, and keeps the classes loaded from the Spark jar
directory, in first-load order, without duplicates. Run from the repository
root (no sbt needed; under a minute on 4 cores):

  python3 tools/classlist.py

The Spark jar directory is $SPARK_JARS, else build.sbt's unmanagedBase.
"""
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(SOURCES, "graft", "core", "ClassList.scala")
# a string constant in a class file holds at most 65,535 bytes
CHUNK_BYTES = 60000
EXCLUDED = ("graft.", "java.", "jdk.")


def spark_jars():
    jars = os.environ.get("SPARK_JARS")
    if not jars:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
        jars = re.search(r'^unmanagedBase := file\("(.*)"\)', sbt, re.M).group(1)
    return jars


def add_opens():
    """build.sbt's jdk17AddOpens, as java flags."""
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", sbt, re.S).group(1)
    return [f"--add-opens={m}=ALL-UNNAMED" for m in re.findall(r'"(java\.base/[\w./]+)"', block)]


def render(names):
    """ClassList.scala holding `names`, one per line, in string constants
    under the class-file limit."""
    chunks, cur, size = [], [], 0
    for n in names:
        if cur and size + len(n) + 1 > CHUNK_BYTES:
            chunks.append(cur)
            cur, size = [], 0
        cur.append(n)
        size += len(n) + 1
    if cur:
        chunks.append(cur)
    literals = ",\n".join('    """' + "\n".join(c) + '"""' for c in chunks)
    return f"""// GENERATED by tools/classlist.py: do not edit; rerun the tool instead.
package graft.core

/** The {len(names)} classes a cold `graft.Main` call loads from the Spark jar
  * directory, in first-load order: the data [[Preload]] walks. */
object ClassList {{

  /** The names, in first-load order. */
  def names: Iterator[String] = chunks.iterator.flatMap(_.linesIterator)

  // one name per line, each constant under the class file's 64 KB limit
  private val chunks = Array[String](
{literals})
}}
"""


def planted_table(d):
    """A few hundred objects in planted clusters, a below-threshold link
    between clusters, and objects in no edge; tab-separated like clusty's."""
    rnd = random.Random(13)
    names = [f"obj{i:04d}" for i in range(400)]
    edges = []
    for start in range(0, 360, 12):
        members = names[start:start + 12]
        for i in range(1, len(members)):
            edges.append((members[i], rnd.choice(members[:i]), rnd.uniform(0.95, 1.0)))
        edges.append((members[0], rnd.choice(names[:360]), rnd.uniform(0.7, 0.9)))
    rnd.shuffle(edges)
    with open(os.path.join(d, "edges.tsv"), "w") as f:
        f.write("query\ttarget\tani\n")
        f.writelines(f"{a}\t{b}\t{s:.4f}\n" for a, b, s in edges)
    order = names[:]
    rnd.shuffle(order)
    with open(os.path.join(d, "objects.tsv"), "w") as f:
        f.write("object\n")
        f.writelines(o + "\n" for o in order)


def record(work, jars):
    """Class-load lines of one cold graft.Main call on a build whose
    ClassList is empty."""
    src = os.path.join(work, "src")
    shutil.copytree(SOURCES, src)
    with open(os.path.join(src, "graft", "core", "ClassList.scala"), "w") as f:
        f.write(render([]))
    classes = os.path.join(work, "classes")
    os.makedirs(classes)
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(src) for f in fs
                   if f.endswith(".scala"))
    jar_cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", jar_cp, "-d", classes] + files,
                   check=True)

    planted_table(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "class-load.log")
    cmd = (["java"] + add_opens() +
           ["-Xmx1g", "-Xss8m", f"-Xlog:class+load=info:file={log}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(jars, "*"), "graft.Main",
            "--algo", "single", "--similarity", "--min", "ani", "0.95",
            "--objects-file", os.path.join(work, "objects.tsv"),
            os.path.join(work, "edges.tsv"), os.path.join(work, "out")])
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[2]", SPARK_GRAFT_CPUS="2")
    run = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if run.returncode != 0:
        sys.exit(f"classlist.py: graft.Main exited {run.returncode}\n{run.stdout[-4000:]}")
    return open(log).read().splitlines()


def spark_classes(lines, jars):
    """Names loaded from a jar directly in `jars`, first loads only. A class
    must also be in one of the jars: Spark's generated code (Janino's
    GeneratedClass) is logged with a jar as its source."""
    dirs = {os.path.abspath(jars), os.path.realpath(jars)}
    load = re.compile(r"\[class,load\] (\S+) source: file:(\S+)$")
    entries = {}
    seen, names = set(), []
    for line in lines:
        m = load.search(line)
        if not m or os.path.dirname(m.group(2)) not in dirs:
            continue
        name, jar = m.groups()
        if jar not in entries:
            with zipfile.ZipFile(jar) as z:
                entries[jar] = set(z.namelist())
        if (name not in seen and not name.startswith(EXCLUDED)
                and name.replace(".", "/") + ".class" in entries[jar]):
            seen.add(name)
            names.append(name)
    return names


def main():
    jars = spark_jars()
    if not os.path.isdir(jars):
        sys.exit(f"classlist.py: no Spark jar directory at {jars}")
    with tempfile.TemporaryDirectory(prefix="graft-classlist-") as work:
        lines = record(work, jars)
    names = spark_classes(lines, jars)
    if not names:
        sys.exit("classlist.py: the recorded call loaded no class from the Spark jars")
    with open(TARGET, "w") as f:
        f.write(render(names))
    print(f"classlist.py: {len(names)} classes from {len(lines)} class-load lines -> "
          f"{os.path.relpath(TARGET, ROOT)}")


if __name__ == "__main__":
    main()
