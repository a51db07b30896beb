"""Start pyspark's worker daemon on the interpreter's own pyspark install.

Spark puts three archives ahead of everything else on a Python worker's
``PYTHONPATH``: ``pyspark.zip``, the py4j source zip and the spark-core
jar. Imported from the zip, pyspark compiles from source in every daemon
(the zip holds no ``.pyc``), and the ``importlib.invalidate_caches()`` of
every task (pyspark's ``setup_spark_files``) re-reads the central
directory of each zip importer on the path.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters. It drops from the path the archives whose Python the
interpreter's own installs already hold, and replaces itself with
``python -m pyspark.daemon`` on the rest, so the daemon and the workers it
forks never build those importers. It imports only the standard library,
so nothing is loaded from the archives before the exec.

This directory holds nothing else, because it goes on the workers' path;
the package directory never does (its ``io.py`` would shadow the stdlib's).
"""

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _archive(entry: str) -> list[str] | None:
    """The names in the zip archive at path ``entry``; None if it is not one."""
    if not os.path.isfile(entry) or not zipfile.is_zipfile(entry):
        return None
    with zipfile.ZipFile(entry) as z:
        return z.namelist()


def _version(entry: str, name: str, names: list[str] | None) -> str | None:
    """The version of package ``name`` at path ``entry`` (an archive when
    ``names`` lists it): None where the package is not, "" where its
    ``version.py`` is missing or unreadable."""
    try:
        if names is None:
            if not os.path.isfile(os.path.join(entry, name, "__init__.py")):
                return None
            with open(os.path.join(entry, name, "version.py"), encoding="utf-8") as fh:
                source = fh.read()
        else:
            if f"{name}/__init__.py" not in names:
                return None
            with zipfile.ZipFile(entry) as z:
                source = z.read(f"{name}/version.py").decode("utf-8")
    except (OSError, KeyError, UnicodeDecodeError):
        return ""
    m = _VERSION.search(source)
    return m.group(1) if m else ""


def worker_path(entries: list[str], site_dirs: list[str]) -> list[str]:
    """The ``PYTHONPATH`` ``entries`` without the archives the workers
    need not read.

    An archive that holds no Python module goes (Spark's jar). So do
    the pyspark or py4j archives ahead of that package's first
    directory install (over ``entries``, then the interpreter's own
    ``site_dirs``) when every one of them has that install's version,
    so the package imports at the same version as before. Every other
    entry stays, in its order; with no directory install the pyspark
    and py4j archives stay too."""
    archives = {e: _archive(e) for e in entries}
    spare = {
        e for e, names in archives.items()
        if names is not None and not any(n.endswith((".py", ".pyc")) for n in names)
    }
    for name in ("pyspark", "py4j"):
        ahead = []
        for entry in (*entries, *site_dirs):
            names = archives.get(entry)
            version = _version(entry, name, names)
            if version is None or entry in spare:
                continue
            if names is not None:
                ahead.append((entry, version))
                continue
            if version and all(v == version for _, v in ahead):
                spare.update(e for e, _ in ahead)
            break
    return [e for e in entries if e not in spare]


def main() -> None:
    path = os.environ.get("PYTHONPATH")
    entries = path.split(os.pathsep) if path else []
    site_dirs = [d for d in sys.path[1:] if d not in entries]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(worker_path(entries, site_dirs)))
    # the interpreter's own flags, with pyspark's daemon in place of this module
    i = sys.orig_argv.index("-m")
    argv = [sys.executable, *sys.orig_argv[1:i], "-m", "pyspark.daemon", *sys.orig_argv[i + 2 :]]
    os.execve(sys.executable, argv, env)


if __name__ == "__main__":
    main()
