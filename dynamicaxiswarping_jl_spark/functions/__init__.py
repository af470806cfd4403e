"""Reusable column expressions (all JVM-side, codegen-friendly)."""

from .series import arr_dot, arr_norm

__all__ = ["arr_dot", "arr_norm"]
