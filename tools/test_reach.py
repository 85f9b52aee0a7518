#!/usr/bin/env python3
"""Unit tests for tools/reach.py over a temp tree of small Scala files.

Run: python3 tools/test_reach.py
"""
import atexit
import os
import shutil
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reach  # noqa: E402


def tree(files):
    root = tempfile.mkdtemp(prefix="reach-")
    atexit.register(shutil.rmtree, root, True)
    for rel, body in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(textwrap.dedent(body))
    return root


class ReachTest(unittest.TestCase):

    def flagged(self, files):
        return {m["qual"] for m in reach.unreached(tree(files))}

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

    def test_parameter_named_like_a_def_does_not_reach_it(self):
        got = self.flagged({"src/main/scala/a/Ops.scala": """
            object Ops {
              def asOf(x: Int): Int = x
              def main(args: Array[String]): Unit = println(Cat.load("p", 1L))
            }
            object Cat {
              def load(path: String, asOf: Long): String = path
            }
            """})
        self.assertEqual(got, {"Ops.asOf"})

    def test_local_val_named_like_a_def_does_not_reach_it(self):
        got = self.flagged({"src/main/scala/a/Ops.scala": """
            object Ops {
              def helper(x: Int): Int = x
              def main(args: Array[String]): Unit = {
                val helper = args.length
              }
            }
            """})
        self.assertEqual(got, {"Ops.helper"})

    def test_cli_exits_1_and_lists_file_line_name(self):
        root = tree({"src/main/scala/a/Ops.scala": """
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


class UnsetParamsTest(unittest.TestCase):
    """The second pass: default-valued parameters that no call sets."""

    def unset(self, files):
        root = tree(files)
        return {f"{m['qual']}({m['param']})" for m in reach.unset_params(root)}

    def ops(self, main_body, defs):
        return {"src/main/scala/a/Ops.scala": f"""
            object Ops {{
            {defs}
              def main(args: Array[String]): Unit = {main_body}
            }}
            """}

    def test_set_by_name_is_not_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(f(1, y = 3))",
            "  def f(x: Int, y: Int = 2): Int = x + y")), set())

    def test_set_by_position_is_not_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(Ops.f(1, 3))",
            "  def f(x: Int, y: Int = 2): Int = x + y")), set())

    def test_set_in_a_second_parameter_list_is_not_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(f(1)(3))",
            "  def f(x: Int)(y: Int = 2): Int = x + y")), set())

    def test_set_only_by_a_spec_is_not_flagged(self):
        files = self.ops("println(f(1))",
                         "  def f(x: Int, y: Int = 2): Int = x + y")
        files["src/test/scala/a/OpsSpec.scala"] = """
            class OpsSpec {
              assert(a.Ops.f(1, y = 0) == 1)
            }
            """
        self.assertEqual(self.unset(files), set())

    def test_set_by_nobody_is_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(f(1))",
            "  def f(x: Int, y: Int = 2): Int = x + y")), {"Ops.f(y)"})

    def test_set_only_by_a_recursive_call_is_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(sum(3))",
            "  def sum(n: Int, acc: Int = 0): Int =\n"
            "    if (n == 0) acc else sum(n - 1, acc + n)")), {"Ops.sum(acc)"})

    def test_passed_on_from_an_unset_parameter_is_flagged(self):
        self.assertEqual(self.unset(self.ops(
            "println(outer(1))",
            "  def outer(x: Int, y: Int = 2): Int = inner(x, y)\n"
            "  def inner(x: Int, y: Int = 2): Int = x * y")),
            {"Ops.outer(y)", "Ops.inner(y)"})

    def test_a_call_in_a_string_sets_nothing(self):
        self.assertEqual(self.unset(self.ops(
            'println(f(1) + "f(1, 3)")',
            "  def f(x: Int, y: Int = 2): Int = x + y")), {"Ops.f(y)"})

    def test_cli_lists_file_line_owner_def_param(self):
        root = tree(self.ops(
            "println(f(1))", "  def f(x: Int, y: Int = 2): Int = x + y"))
        import contextlib
        import io
        out = io.StringIO()
        with contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            rc = reach.main(["reach.py", root])
        self.assertEqual(rc, 1)
        self.assertEqual(out.getvalue().strip(),
                         os.path.join("src", "main", "scala", "a", "Ops.scala")
                         + ":3 Ops.f(y)")


if __name__ == "__main__":
    unittest.main()
