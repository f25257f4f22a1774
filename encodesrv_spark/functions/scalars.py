"""Scalar function library — the reference's F1-F18 inventory re-expressed
as pure Column-expression helpers (SURVEY.md §2.8).

Every helper is a JVM-side Column expression (whole-stage codegen, no
Python round trip), so these compose freely inside any DataFrame plan.

Reference sites cited per function (file:line in /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# Path functions (reference encodesrv/__init__.py:108-110, encodesrv/job.py:86,142,152,179,286-306)
# ---------------------------------------------------------------------------

def mount_rewrite(path: Column | str, mount_prefix: str) -> Column:
    """F1 — prepend a mount prefix, stripping leading '/' from the path
    (reference encodesrv/__init__.py:108-110: ``mntfolder + path.lstrip('/')``)."""
    return F.concat(F.lit(mount_prefix), F.regexp_replace(_c(path), "^/+", ""))


def basename(path: Column | str) -> Column:
    """F2 — final path component (reference encodesrv/job.py:86,142,152,179)."""
    return F.element_at(F.split(_c(path), "/"), -1)


def splitext_ext(path: Column | str) -> Column:
    """F3 — extension including dot, '' if none (reference encodesrv/job.py:152-154).

    Exact os.path.splitext semantics: the extension starts at the LAST
    dot of the final path segment, but leading dots of the segment are
    not extension separators ('.bashrc' has no extension; 'a..b' →
    '.b'; 'x.' → '.').  The pattern requires a non-dot char somewhere
    before the final dot within the segment."""
    return F.regexp_extract(_c(path), r"(?:^|/)\.*[^./][^/]*?(\.[^./]*)$", 1)


def dirname(path: Column | str) -> Column:
    """F4 — parent directory (reference encodesrv/job.py:286-290)."""
    d = F.regexp_replace(_c(path), "/[^/]*$", "")
    # os.path.dirname("a") == "", dirname("/a") == "/"
    return F.when(_c(path).rlike("/"), F.when(d == "", F.lit("/")).otherwise(d)).otherwise(
        F.lit("")
    )


# ---------------------------------------------------------------------------
# String / template functions
# ---------------------------------------------------------------------------

def nice_name(path: Column | str, format_name: Column | str) -> Column:
    """F5 — display name ``basename (format_name)`` (reference encodesrv/job.py:86)."""
    return F.concat(basename(path), F.lit(" ("), _c(format_name), F.lit(")"))


def pluralize(count: Column | str) -> Column:
    """F14 — '' if count == 1 else 's' (reference encodesrv/logs/bots/common.py:79)."""
    return F.when(_c(count) == 1, F.lit("")).otherwise(F.lit("s"))


# ---------------------------------------------------------------------------
# Regex / validation
# ---------------------------------------------------------------------------

LOUDNESS_PATTERN = r"I:\s*(-?\d+\.?\d*) LUFS"


def extract_loudness(stderr: Column | str) -> Column:
    """F8 — integrated-loudness LUFS value from ffmpeg ebur128 output
    (reference encodesrv/job.py:204-205)."""
    return F.regexp_extract(_c(stderr), LOUDNESS_PATTERN, 1).cast("double")


def db_gain(target: Column | float, measured: Column | str) -> Column:
    """F9 — dB difference → linear gain: 10^((target-measured)/20)
    (reference encodesrv/job.py:201-208)."""
    t = F.lit(target) if isinstance(target, (int, float)) else target
    return F.pow(F.lit(10.0), (t - _c(measured)) / F.lit(20.0))


def printf_pattern_to_regex(col: Column | str) -> Column:
    """F11 — rewrite a '%05d'-style printf pattern to a digit regex
    (reference encodesrv/job.py:298-301)."""
    return F.regexp_replace(_c(col), "%([0-9]+)d", r"\\d+")


def has_printf_pattern(col: Column | str) -> Column:
    return _c(col).rlike("%[0-9]+d")


def is_all_digits(col: Column | str) -> Column:
    """F12 — pv progress-line validation (reference encodesrv/job.py:76)."""
    return _c(col).rlike("^[0-9]+$")


BOT_COMMAND_PATTERN = r"^<?@?([^ \|^>]*)>?: *(.*)"


def bot_command_user(msg: Column | str) -> Column:
    """F13 — addressed-bot-message parse, user part (reference
    encodesrv/logs/bots/common.py:11)."""
    return F.regexp_extract(_c(msg), BOT_COMMAND_PATTERN, 1)


def bot_command_text(msg: Column | str) -> Column:
    return F.regexp_extract(_c(msg), BOT_COMMAND_PATTERN, 2)


# ---------------------------------------------------------------------------
# Time
# ---------------------------------------------------------------------------

def iso_ts(col: Column | str) -> Column:
    """F15 — ISO-8601 second-precision rendering (reference
    encodesrv/__init__.py:128-130)."""
    return F.date_format(_c(col), "yyyy-MM-dd'T'HH:mm:ss")
