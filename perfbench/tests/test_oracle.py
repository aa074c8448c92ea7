import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402

MODEL = {"detailed": True, "tables": [
    {"colstats": True, "uniques": 1, "row_checks": ["nulls"]},
    {"colstats": False, "uniques": 0, "row_checks": ["range"]},
]}


def report(big_fails):
    return {"tables": [
        {"rowCount": 100, "checks": [{"label": "nulls", "failed": big_fails},
                                     {"label": "unique", "failed": True}]},
        {"rowCount": 7, "checks": [{"label": "range", "failed": False}]},
    ]}


class ScanCostModel(unittest.TestCase):
    def test_failed_row_check_adds_a_detail_pass(self):
        # 100 rows x (scan + colstats + detail + unique) + 7 rows x scan
        self.assertEqual(oracle.check_scans(report(True), MODEL, 407), [])

    def test_failed_unique_check_adds_no_detail_pass(self):
        self.assertEqual(oracle.check_scans(report(False), MODEL, 307), [])

    def test_extra_scan_is_a_failure(self):
        self.assertEqual(len(oracle.check_scans(report(True), MODEL, 507)), 1)

    def test_no_detail_pass_when_detailed_errors_off(self):
        self.assertEqual(oracle.check_scans(report(True), dict(MODEL, detailed=False), 307), [])


if __name__ == "__main__":
    unittest.main()
