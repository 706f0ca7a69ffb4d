"""The suite tests the package of its own checkout, wherever that lives
(an A/B copy of another commit must not import this tree's package)."""

from pathlib import Path

import hannigan_conjunctisviribus_ploscompbio_2017_spark as pkg


def test_package_imported_from_this_checkout():
    root = Path(__file__).resolve().parents[1]
    assert Path(pkg.__file__).resolve().is_relative_to(root), (pkg.__file__, root)
