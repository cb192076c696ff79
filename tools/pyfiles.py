"""Package xorfilter_spark as a --py-files zip (the north rule's
``spark-submit --py-files`` distribution unit), and size a driver heap for
this host.

The zip holds only the library's .py sources, laid out so
``import xorfilter_spark`` resolves from the zip root — exactly what a
multi-executor cluster ships to every executor's PYTHONPATH.
"""

from __future__ import annotations

import os
import shutil
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "xorfilter_spark")


def make_pyfiles_zip(dst: str) -> str:
    """Write xorfilter_spark.zip at ``dst`` (a file path); returns dst."""
    os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(PKG):
            if "__pycache__" in root:
                continue
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, REPO)
                z.write(full, rel)
    return dst


def driver_heap() -> str:
    """Half of this host's RAM as a JVM heap size: a heap allowed to grow
    past RAM gets the driver killed by the kernel's OOM killer instead of
    failing with a Java ``OutOfMemoryError``."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, ram // 2**31)}g"


def spark_submit_path() -> str:
    """Locate spark-submit: PATH first, then the pyspark wheel's bin."""
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/xorfilter_spark.zip"
    print(make_pyfiles_zip(out))
