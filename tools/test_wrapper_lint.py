"""Self-test of tools/wrapper_lint.py on a throwaway source tree.

Usage (from the repository root): python3 tools/test_wrapper_lint.py

Writes a minimal `graft/api/Pipelines.scala` with three public defs and a
query file that reaches one on a single line, one with the call split
across two lines around the dot, and the third only inside a comment.
The lint must count the first two as reached and report the third
unused (exit 1). A `Streams.scala` declaring every STREAM_ONLY def keeps
the Streams half of the lint quiet.
"""
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from wrapper_lint import STREAM_ONLY  # noqa: E402

PIPELINES = """package graft.api
object Pipelines {
  def oneLine(x: Int): Int = x
  def splitCall(x: Int): Int = x
  def onlyInComment(x: Int): Int = x
}
"""

QUERY = """package graft.operators
object Uses {
  val a = graft.api.Pipelines.oneLine(1)
  val b = graft.api.Pipelines
    .splitCall(2)
  // graft.api.Pipelines.onlyInComment(3)
}
"""


def write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def main():
    with tempfile.TemporaryDirectory() as src:
        write(src, "graft/api/Pipelines.scala", PIPELINES)
        write(src, "graft/operators/Uses.scala", QUERY)
        write(src, "graft/streaming/Streams.scala",
              "object Streams {\n" + "".join(f"  def {n} = ()\n" for n in STREAM_ONLY) + "}\n")
        r = subprocess.run([sys.executable, os.path.join(HERE, "wrapper_lint.py"), "--src", src],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    out = r.stdout
    assert r.returncode == 1, out
    assert "3 public Pipelines defs, 2 reached, 1 unused" in out, out
    assert "UNUSED Pipelines.onlyInComment" in out, out
    assert "splitCall" not in out and "oneLine" not in out, out
    assert "0 unused, 0 stale" in out, out
    print("wrapper lint self-test: ok")


if __name__ == "__main__":
    main()
