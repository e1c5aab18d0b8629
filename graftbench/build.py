#!/usr/bin/env python3
"""Build the benchmark: graft's main sources plus the benchmark's own
Scala driver, compiled by scalac into one classes directory.

    python3 graftbench/build.py      # from the root of a graft checkout

Output goes to .bench_build/graftbench/<source digest>/classes; a build
whose sources are unchanged is reused. Spark (and the Scala compiler it
ships) is read from $SPARK_HOME/jars or, without SPARK_HOME, from the
`unmanagedBase` directory the repo's build.sbt names.
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = Path(root) / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return Path(m.group(1))


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((HERE / "src").rglob("*.scala"))
    return main + own


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; return (classes dir, source digest)."""
    root = Path(root).resolve()
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("build: no src/main/scala here; run from the root of a graft checkout")
    jars = spark_jars(root)
    if not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars} (set SPARK_HOME)")
    files = sources(root)
    d = digest(root, files)
    out = root / ".bench_build" / "graftbench" / d
    classes = out / "classes"
    if (out / "ok").exists():
        return classes, d
    classes.mkdir(parents=True, exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(classes), "-nowarn", f"@{argfile}"]
    print(f"build: compiling {len(files)} sources into {classes}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    (out / "ok").write_text(d + "\n")
    return classes, d


if __name__ == "__main__":
    c, _ = build(Path.cwd())
    print(c)
