# every Python worker that unpickles a package UDF imports this first
from html_parser_spark import _pyworker

_pyworker.install()
