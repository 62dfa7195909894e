"""bench.py's markdown section writer: it rewrites only its own section of
BENCH/BASELINE.md and keeps the preamble and every other section
byte-identical."""

import pytest

from bench import write_section

PREAMBLE = "# Title\n\nStatic protocol prose.\nNo | table here.\n\n"
LOG = (
    "## Measurement log (accumulated)\n"
    "Context line.\n\n"
    "| a | b |\n|---|---|\n| 1 | 2 |\n\n"
    "Notes after the table.\n\n"
    "### Sub-section\n\n| other | table |\n|---|---|\n\n"
)
LINEARITY = "## Input-size linearity\n\nold body\n| x |\n\n"
TAIL = "## Later section\n\nkept   as is\n"


def _write(tmp_path, text):
    path = tmp_path / "BASELINE.md"
    path.write_text(text)
    return path


def test_replace_section_keeps_the_rest_byte_identical(tmp_path):
    path = _write(tmp_path, PREAMBLE + LOG + LINEARITY + TAIL)
    new = "## Input-size linearity\n\nnew body\n"
    write_section(str(path), "## Input-size linearity", new)
    assert path.read_text() == PREAMBLE + LOG + new + "\n" + TAIL


def test_replace_last_section_and_append_missing(tmp_path):
    path = _write(tmp_path, PREAMBLE + LOG + TAIL)
    write_section(str(path), "## Later section", "## Later section\n\nnew\n")
    assert path.read_text() == PREAMBLE + LOG + "## Later section\n\nnew\n"
    write_section(str(path), "## Input-size linearity", "## Input-size linearity\n\nbody\n")
    assert path.read_text() == (
        PREAMBLE + LOG + "## Later section\n\nnew\n\n## Input-size linearity\n\nbody\n"
    )


def test_append_row_goes_after_the_first_table_only(tmp_path):
    path = _write(tmp_path, PREAMBLE + LOG + LINEARITY + TAIL)
    write_section(str(path), "## Measurement log", "| 3 | 4 |", append_row=True)
    log = LOG.replace("| 1 | 2 |\n", "| 1 | 2 |\n| 3 | 4 |\n")
    assert path.read_text() == PREAMBLE + log + LINEARITY + TAIL


def test_append_row_needs_its_section(tmp_path):
    path = _write(tmp_path, PREAMBLE + TAIL)
    with pytest.raises(ValueError):
        write_section(str(path), "## Measurement log", "| 3 | 4 |", append_row=True)
    assert path.read_text() == PREAMBLE + TAIL
