from . import money, enums, datetime_ops, text, hashing, sql  # noqa: F401
