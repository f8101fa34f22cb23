"""Helpers for tests that run a gate set in a child Python process."""


def failure_text(stderr: str, limit: int = 4000) -> str:
    """The part of a failed child's stderr that names the cause: from the
    last Python traceback on, capped at ``limit`` chars. Without a
    traceback, the last ``limit`` chars. (The stderr's tail alone is
    usually executor-shutdown noise printed after the traceback.)"""
    start = stderr.rfind("Traceback (most recent call last):")
    return stderr[start:][:limit] if start >= 0 else stderr[-limit:]
