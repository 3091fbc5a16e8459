"""The tests exercise the package of the checkout they sit in, never an
installed or sibling copy found earlier on sys.path."""

import os

import varda_spark


def test_package_imported_from_this_checkout():
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    pkg = os.path.realpath(varda_spark.__file__)
    assert os.path.commonpath([root, pkg]) == root, (pkg, root)
