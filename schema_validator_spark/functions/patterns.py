"""The 9 built-in validation regexes.

Parity target: /root/reference/src/schema/patterns.rs:4-31.  These patterns are
dialect-neutral (anchors, char classes, bounded repetition only) so they behave
identically under Rust ``regex``, Java (``Column.rlike``), and Python ``re`` —
which lets the compiled plan stay JVM-side (whole-stage codegen) instead of
crossing into Python workers.
"""

from __future__ import annotations

EMAIL = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
URL = r"^https?://[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}[a-zA-Z0-9./_?=&-]*$"
DATE = r"^\d{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01])$"
TIME = r"^(?:[01]\d|2[0-3]):[0-5]\d:[0-5]\d$"
UUID = r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
IPV4 = (
    r"^(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$"
)
PHONE = r"^\+?[1-9]\d{1,14}$"
USERNAME = r"^[a-zA-Z0-9_-]{3,16}$"
STRONG_PASSWORD = r"^[A-Z][a-zA-Z0-9\W_]{7,}$"

# Built-in pattern → (error code, default message); string.rs:370-553.
BUILTIN_CONFIGS = {
    "email": (EMAIL, "INVALID_EMAIL", "Invalid email format"),
    "url": (URL, "INVALID_URL", "Invalid URL format"),
    "date": (DATE, "INVALID_DATE", "Invalid date format, expected YYYY-MM-DD"),
    "time": (TIME, "INVALID_TIME", "Invalid time format, expected HH:MM:SS"),
    "uuid": (UUID, "INVALID_UUID", "Invalid UUID format"),
    "ipv4": (IPV4, "INVALID_IPV4", "Invalid IPv4 address format"),
    "phone": (PHONE, "INVALID_PHONE", "Invalid phone number format"),
    "username": (
        USERNAME,
        "INVALID_USERNAME",
        "Invalid username format (3-16 chars, alphanumeric with underscore and dash)",
    ),
    "password": (
        STRONG_PASSWORD,
        "INVALID_PASSWORD",
        "Invalid password format (min 8 chars, at least one uppercase, one lowercase, one number)",
    ),
}

# Rust `char::is_whitespace` == the Unicode White_Space property: these 25
# code points.  `trim()` strips exactly this set — Spark's one-argument trim
# strips only ASCII space and Python's bare str.strip() also strips
# U+001C-U+001F — so plans pass it to Spark's code-point-set StringTrim and to
# pandas `str.strip` (SURVEY.md §7 risk 1).
WHITE_SPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
