"""Host and filesystem facts the benchmark reads: /proc, directory walks
and the JSON-lines records a benchmark JVM writes."""

import json
import os
import pathlib


def host_facts(heap):
    facts = {"nproc": os.cpu_count(), "heap": heap}
    try:
        facts["loadavg"] = pathlib.Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        pass
    try:
        facts["cpu_pressure"] = pathlib.Path("/proc/pressure/cpu").read_text().splitlines()[0]
    except OSError:
        pass
    try:
        for line in pathlib.Path("/proc/meminfo").read_text().splitlines():
            if line.startswith(("MemTotal", "MemAvailable")):
                k, v = line.split(":")
                facts[k] = v.strip()
    except OSError:
        pass
    return facts


def proc_cpu_jiffies(steal=False):
    """Busy (or, with steal=True, stolen) and total jiffies of the whole
    host, from /proc/stat. Steal is CPU time a hypervisor gave to other
    guests: the weather a shared host imposes on a run."""
    try:
        f = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return (f[7] if steal else f[0] + f[1] + f[2] + f[5] + f[6] + f[7]), sum(f)
    except OSError:
        return 0, 0


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def files_under(path):
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[(p, st.st_mtime_ns)] = st.st_size
    return out


def rss_peak_mb(pid):
    try:
        for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def load_records(path):
    recs = []
    if path.exists():
        for line in path.read_text().splitlines():
            if line.strip():
                recs.append(json.loads(line))
    return recs


def table_census(store_root):
    """Per table under a store root (a directory holding `_meta.json`, or
    a `.bstate` signature state): files, partition directories and
    version directories."""
    out = {}
    root = pathlib.Path(store_root)
    if not root.is_dir():
        return out
    tables = [p.parent for p in root.rglob("_meta.json")] + list(root.rglob("*.bstate"))
    for t in tables:
        files = dirs = versions = 0
        for dirpath, dirnames, filenames in os.walk(t):
            files += len(filenames)
            for d in dirnames:
                if d.startswith("__p_"):
                    dirs += 1
                elif d.startswith(("__version=", "v_")):
                    versions += 1
        out[str(t.relative_to(root))] = {"files": files, "partition_dirs": dirs,
                                         "versions": versions}
    return out
