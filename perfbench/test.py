#!/usr/bin/env python3
"""Compile and run the benchmark's own tests (perfbench/src/test/scala).

    python3 perfbench/test.py
"""
import os
import subprocess
import sys

import run


def main():
    classes = run.build_classes()
    srcs = run.sources(os.path.join(run.HERE, "src", "test", "scala"))
    out = f"{classes}-tests-{run.digest(srcs)}"
    with run.build_lock():
        if not os.path.isdir(out):
            run.scalac(srcs, out, [classes])
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([out, classes, os.path.join(run.spark_jars(), "*")])
    r = subprocess.run(["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                                  "perfbench.SelfTest"],
                       cwd=run.BUILD, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    sys.stdout.write(r.stdout)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
