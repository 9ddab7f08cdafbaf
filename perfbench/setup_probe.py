"""One set-up sample in a fresh process: start a session the way a job does,
print ``ready`` once the first Python worker has run, then wait for EOF on
stdin and tear everything down.  The parent times launch -> ``ready``."""

import sys

import session

if __name__ == "__main__":
    session.configure_env()
    spark, _ = session.start_session()
    print("ready", flush=True)
    sys.stdin.read()
    session.stop_session(spark)
