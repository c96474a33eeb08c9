"""Dynamic class-data (AppCDS) archive for the driver JVM of the local
sessions ``session.get_spark`` builds.

Most of a local session's start is the driver JVM loading, parsing and
verifying the same few thousand Spark classes on every start. JDK 13+
can write the classes a JVM loaded to an archive when it exits
(``-XX:ArchiveClassesAtExit``) and map that archive at the next start
(``-XX:SharedArchiveFile``). The archive lives at

    ${XDG_CACHE_HOME:-~/.cache}/<package>/cds/<digest>.jsa

where the digest covers the Spark version, the (name, size, mtime) of
every ``$SPARK_HOME/jars`` entry and the path and stat of the ``java``
binary ``spark-class`` runs, so a Spark or JDK upgrade writes a new one.

* The first session on a machine writes ``<digest>.jsa.<pid>.part``; at
  interpreter exit the hook registered by ``after_launch`` closes the
  JVM's stdin (PySpark's gateway exits on EOF), waits for the dump, and
  renames the part into place only if the JVM exited 0. A mapped archive
  is therefore never overwritten, and promotion deletes the archives of
  other digests.
* Later sessions map the archive. A stale or corrupt one is rejected by
  the JVM, which then starts without sharing (the default
  ``-Xshare:auto``); when the JVM's ``/proc/<pid>/maps`` does not show
  the archive, ``after_launch`` deletes it, so the next session writes a
  fresh one. Without ``/proc`` the archive is left as it is.
* The JVM neither writes nor maps an archive while a non-empty directory
  is on its class path, and Spark puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) there. When ``SPARK_CONF_DIR`` is unset and that
  directory holds only ``*.template`` files, the session starts with
  ``SPARK_CONF_DIR`` pointing at an empty directory of the cache, which
  changes nothing Spark reads. In every other case no archive is used.

The unified-logging flags silence the JVM's ``[cds]`` warnings (a signed
JAR, pre-JDK 6 generated accessors), which it otherwise prints to the
caller's stdout by the hundred while dumping.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass

QUIET = "-Xlog:cds=off,cds+dynamic=off"
# closing stdin ends the gateway JVM; dumping the archive took ~10 s
DUMP_TIMEOUT_S = 120


@dataclass(frozen=True)
class Archive:
    java_options: str  # for spark.driver.defaultJavaOptions
    conf_dir: str  # SPARK_CONF_DIR while the JVM is launched
    path: str  # <digest>.jsa
    part: str | None  # where this session writes it, or None if it maps it

    def after_launch(self, proc: subprocess.Popen) -> None:
        """When this session writes the archive, move it into place at
        interpreter exit once ``proc`` (the driver JVM) has exited 0; when
        it maps the archive and ``proc`` did not, delete the archive."""
        if self.part is not None:
            atexit.register(_promote, proc, self.part, self.path)
        elif _mapped(proc.pid, self.path) is False:
            _remove(self.path)


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, __package__)


def spark_home() -> str:
    """The Spark installation whose ``spark-submit`` PySpark launches."""
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def digest(spark_home: str) -> str:
    import pyspark

    h = hashlib.sha256(pyspark.__version__.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    # the binary spark-class runs; with none found, os.stat raises
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    st = os.stat(java)
    h.update(f"\0{java}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_dead_parts(directory: str) -> None:
    for part in glob.glob(os.path.join(directory, "*.jsa.*.part")):
        pid = part.rsplit(".", 2)[-2]
        if not (pid.isdigit() and _pid_alive(int(pid))):
            _remove(part)


def _mapped(pid: int, path: str) -> bool | None:
    """Whether process ``pid`` maps ``path``; None without ``/proc``."""
    try:
        with open(f"/proc/{pid}/maps") as maps:
            return os.path.realpath(path) in maps.read()
    except OSError:
        return None


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def plan() -> Archive | None:
    """The archive for a driver JVM about to be launched, or None when it
    must start without one (see the module docstring)."""
    if "SPARK_CONF_DIR" in os.environ:
        return None
    try:
        home = spark_home()
        try:
            conf = os.listdir(os.path.join(home, "conf"))
        except FileNotFoundError:
            conf = []
        if not all(name.endswith(".template") for name in conf):
            return None
        key = digest(home)
        root = cache_dir()
        cds, conf_dir = os.path.join(root, "cds"), os.path.join(root, "conf")
        os.makedirs(cds, exist_ok=True)
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cds, os.W_OK | os.X_OK):
            return None
        _remove_dead_parts(cds)
    except OSError:
        return None
    path = os.path.join(cds, f"{key}.jsa")
    if os.path.exists(path):
        return Archive(f"-XX:SharedArchiveFile={path} {QUIET}", conf_dir, path, None)
    part = f"{path}.{os.getpid()}.part"
    return Archive(f"-XX:ArchiveClassesAtExit={part} {QUIET}", conf_dir, path, part)


def _promote(proc: subprocess.Popen, part: str, path: str) -> None:
    if proc.poll() is None:
        try:
            proc.stdin.close()
            proc.wait(timeout=DUMP_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(part):
        _remove(part)
        return
    os.replace(part, path)
    for other in glob.glob(os.path.join(os.path.dirname(path), "*.jsa")):
        if other != path:
            _remove(other)
