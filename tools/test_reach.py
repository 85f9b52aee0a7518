#!/usr/bin/env python3
"""Unit tests for tools/reach.py over a temp tree of small Scala files.

Run: python3 tools/test_reach.py
"""
import os
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reach  # noqa: E402


class ReachTest(unittest.TestCase):

    def tree(self, files):
        root = tempfile.mkdtemp(prefix="reach-")
        for rel, body in files.items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(textwrap.dedent(body))
        return root

    def flagged(self, files):
        return {m["qual"] for m in reach.unreached(self.tree(files))}

    def test_unreferenced_def_is_flagged(self):
        got = self.flagged({"src/main/scala/a/Ops.scala": """
            object Ops {
              def used(x: Int): Int = x + 1
              def unused(x: Int): Int = used(x)
            }
            object Main {
              def main(args: Array[String]): Unit = println(Ops.used(1))
            }
            """})
        self.assertEqual(got, {"Ops.unused"})

    def test_def_reached_only_from_a_flagged_def_is_flagged(self):
        got = self.flagged({"src/main/scala/a/Ops.scala": """
            object Ops {
              def kept(x: Int): Int = x
              def outer(x: Int): Int = helper(x) * 2
              private def helper(x: Int): Int = x + 1
            }
            object Main {
              def main(args: Array[String]): Unit = println(Ops.kept(1))
            }
            """})
        self.assertEqual(got, {"Ops.outer", "Ops.helper"})

    def test_comment_mentions_do_not_count(self):
        got = self.flagged({"src/main/scala/a/Ops.scala": """
            /** Entry point; see [[Ops.orphan]] for the old path. */
            object Ops {
              // orphan(1) used to be called here
              /* and orphan here */
              def main(args: Array[String]): Unit = println("done")
              def orphan(x: Int): Int = x
            }
            """})
        self.assertEqual(got, {"Ops.orphan"})

    def test_reference_from_perfbench_counts(self):
        got = self.flagged({
            "src/main/scala/a/Ops.scala": """
                object Ops {
                  def benched(x: Int): Int = x
                }
                """,
            "perfbench/src/perfbench/Main.scala": """
                object Bench {
                  def main(args: Array[String]): Unit = println(a.Ops.benched(1))
                }
                """})
        self.assertEqual(got, set())

    def test_allowlisted_name_is_not_flagged(self):
        got = self.flagged({"src/main/scala/a/MapReduceOps.scala": """
            object MapReduceOps {
              def secondarySort(x: Int): Int = x
              def dropped(x: Int): Int = x
              def main(args: Array[String]): Unit = ()
            }
            """})
        self.assertEqual(got, {"MapReduceOps.dropped"})

    def test_cli_exits_1_and_lists_file_line_name(self):
        root = self.tree({"src/main/scala/a/Ops.scala": """
            object Ops {
              def main(args: Array[String]): Unit = ()
              def unused(x: Int): Int = x
            }
            """})
        import contextlib
        import io
        out = io.StringIO()
        with contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            rc = reach.main(["reach.py", root])
        self.assertEqual(rc, 1)
        self.assertEqual(out.getvalue().strip(),
                         os.path.join("src", "main", "scala", "a", "Ops.scala")
                         + ":4 Ops.unused")


if __name__ == "__main__":
    unittest.main()
