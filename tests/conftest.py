"""Test-session settings.  Each test module starts its own local Spark
session; a test-sized driver heap keeps their JVMs small enough to run
side by side.  An explicit SPARK_DRIVER_MEM still wins."""

import os

os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
