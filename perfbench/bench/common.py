"""Build of the harness and launch of its JVM."""
import hashlib
import os
import subprocess
import sys

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# engine's build.sbt passes to its forked JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
XMX = "3g"
# A fixed young generation: the default G1 sizing grows eden with the
# run's allocation history, which makes the resident-set peak wander by a
# third from run to run; a fixed eden keeps it a measure of retained data.
YOUNG = "1g"


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the harness build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(root, "perfbench", "scala")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".scala")]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(root, work):
    """Compile the harness with sbt unless this exact source was built;
    returns the runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building the harness with sbt (first run in this checkout)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        raise RuntimeError("harness build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, work, config_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the JVM writes stays in the checkout (-UsePerfData: no
    # hsperfdata file in the system temp directory)
    return [java, *ADD_OPENS, f"-Xmx{XMX}", f"-Xmn{YOUNG}",
            "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main",
            config_path]


def nproc():
    return len(os.sched_getaffinity(0))
