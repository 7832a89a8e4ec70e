"""JVM-side code shipped with the package.

``cerebro-localfs.jar`` holds the local file system classes ``get_spark``
installs for ``file://`` (sources under ``src/``; rebuild and check with
``tools/build_localfs.py``).
"""
