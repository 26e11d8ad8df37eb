"""Serialization codecs (SURVEY.md §2.3 P8): proto3 wire-format encode and
decode for the market-data messages, dependency-free.

This pure-Python codec is the project's only protobuf path, mirroring the
reference's plain-Python Protobuf mapper; it needs neither the
``spark-protobuf`` connector jar nor the google-protobuf wheel (only the
standard library, and numpy for the batch paths). Its wire
output is pinned against spec-derived bytes in
``tests/test_golden_wire_bytes.py``.
"""
