"""Provenance stamp for every result file: code identity, and the
contention meters of graft.Bench (src/main/scala/graft/Bench.scala):
system-wide busy CPU from /proc/stat minus this benchmark's own CPU (its
children included), over the wall time, is the average number of cores of
foreign work that ran alongside it; iowait and steal are read the same
way. A contended run is labelled, never refused."""
import os
import resource
import subprocess
import time

USER_HZ = os.sysconf("SC_CLK_TCK")
CONTENDED_CORES = 2.0


def git_head(root):
    """HEAD with `-dirty` for a modified tree; None outside a git tree."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None
        st = subprocess.run(["git", "status", "--porcelain"], cwd=root,
                            capture_output=True, text=True, timeout=10)
        dirty = st.returncode == 0 and st.stdout.strip() != ""
        return head.stdout.strip() + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return None


def _stat():
    try:
        with open("/proc/stat") as f:
            cols = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    busy = sum(cols) - cols[3] - cols[4]          # all - idle - iowait
    steal = cols[7] if len(cols) > 7 else 0
    return busy / USER_HZ, cols[4] / USER_HZ, steal / USER_HZ


def _own_cpu():
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


class Meters:
    """Start at launch, `stop()` after every child process was waited
    for (their CPU is only counted once they are reaped)."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.s0 = _stat()
        self.own0 = _own_cpu()

    def stop(self):
        wall = time.monotonic() - self.t0
        s1 = _stat()
        if self.s0 is None or s1 is None or wall <= 0:
            return {"external_cores": None, "iowait_cores": None,
                    "steal_cores": None, "contended": True}
        ext = max(0.0, ((s1[0] - self.s0[0]) - (_own_cpu() - self.own0)) / wall)
        iow = max(0.0, (s1[1] - self.s0[1]) / wall)
        steal = max(0.0, (s1[2] - self.s0[2]) / wall)
        return {"external_cores": round(ext, 3), "iowait_cores": round(iow, 3),
                "steal_cores": round(steal, 3),
                "contended": max(ext, iow, steal) > CONTENDED_CORES}
