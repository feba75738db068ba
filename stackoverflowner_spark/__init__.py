"""PySpark-native KG construction with StackOverflowNER semantics."""

from . import zipcache as _zipcache

_zipcache.install()
