"""Tests of the benchmark's own parts: the result digest and the seeded
input generator.

    python3 -m unittest discover -s perfbench/tests

The digest parity test needs the harness build (any benchmark run makes it)
and is skipped without it.
"""
import decimal
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import digest  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    COLS = ['id', 'x', 'name', 'tags', 'amount']
    ROWS = [(1, 0.5, 'a', [1, 2], decimal.Decimal('1.50')),
            (2, -0.0, None, [], decimal.Decimal('0')),
            (3, 1e300, 'c', None, None)]

    def test_every_column_changes_the_digest(self):
        base = digest.digest(self.COLS, self.ROWS)
        changes = [2, 0.25, 'b', [2, 1], decimal.Decimal('1.51')]
        for i, v in enumerate(changes):
            rows = [list(r) for r in self.ROWS]
            rows[0][i] = v
            self.assertNotEqual(digest.digest(self.COLS, rows), base, self.COLS[i])

    def test_row_and_column_order_do_not_matter(self):
        base = digest.digest(self.COLS, self.ROWS)
        self.assertEqual(digest.digest(self.COLS, list(reversed(self.ROWS))), base)
        perm = [4, 2, 0, 3, 1]
        self.assertEqual(digest.digest([self.COLS[i] for i in perm],
                                       [[r[i] for i in perm] for r in self.ROWS]), base)

    def test_duplicate_rows_count(self):
        self.assertNotEqual(digest.digest(self.COLS, self.ROWS),
                            digest.digest(self.COLS, self.ROWS + self.ROWS[:1]))

    def test_null_differs_from_empty(self):
        self.assertNotEqual(digest.digest(['s'], [('',)]), digest.digest(['s'], [(None,)]))

    def test_decimal_digests_as_its_double(self):
        self.assertEqual(digest.digest(['v'], [(decimal.Decimal('12.50'),)]),
                         digest.digest(['v'], [(12.5,)]))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK, prefix='test-gen-')

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        m = gen.generate(workload, seed, run.sf_dir(), out, 4)
        return out, m

    def _same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            self._same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)

    def test_same_seed_same_inputs_other_seed_different(self):
        for workload in ('stream', 'neardup'):
            a, ma = self._gen(workload, 5, f'{workload}-a')
            b, mb = self._gen(workload, 5, f'{workload}-b')
            c, _ = self._gen(workload, 6, f'{workload}-c')
            self.assertEqual(ma, mb)
            self.assertTrue(self._same_tree(a, b), workload)
            self.assertFalse(self._same_tree(os.path.join(a, 'data'),
                                             os.path.join(c, 'data')), workload)

    def test_layout_has_at_least_k_files_per_table(self):
        _, m = self._gen('neardup', 5, 'layout')
        self.assertGreaterEqual(m['files']['documents'], 4 * 4)
        self.assertGreater(m['dup_share'], 0.0)
        self.assertLessEqual(max(m['largest_families']), gen.HOT_FAMILY_MAX)


@unittest.skipUnless(os.path.exists(os.path.join(BENCH, 'jvm', 'target', 'launch.txt')),
                     'harness not built')
class DigestParityTest(unittest.TestCase):
    """The harness's Scala digest and digest.py agree on the same file, and
    a change to any one column changes the Scala digest."""

    def test_scala_and_python_digests_agree(self):
        with open(os.path.join(BENCH, 'jvm', 'target', 'launch.txt')) as f:
            lines = f.read().splitlines()
        os.makedirs(run.WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=run.WORK, prefix='test-digest-')
        try:
            p = subprocess.run(['java', '-Xmx1g'] + lines[1:] + [
                f'-Djava.io.tmpdir={tmp}', '-cp', lines[0], 'perfbench.DigestCheck',
                os.path.join(tmp, 'out')], capture_output=True, text=True, timeout=170)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            res = [json.loads(line) for line in p.stdout.splitlines() if line.startswith('{')]
            by = {r['variant']: r['digest'] for r in res}
            self.assertEqual(by['reordered'], by['base'])
            changed = [v for k, v in by.items() if k.startswith('changed_')]
            self.assertEqual(len(changed), 10)
            self.assertEqual(len(set(changed) | {by['base']}), 11)
            con = oracle.connect(tmp, tmp, 1)
            try:
                for r in res:
                    rel = con.sql(f"SELECT * FROM '{r['path']}/*.parquet'")
                    self.assertEqual(digest.of_relation(rel), r['digest'], r['variant'])
            finally:
                con.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == '__main__':
    unittest.main()
