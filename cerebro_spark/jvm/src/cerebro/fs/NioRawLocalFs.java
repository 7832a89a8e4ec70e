package cerebro.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The FileContext view of {@link NioRawLocalFileSystem}: a copy of
 * {@code org.apache.hadoop.fs.local.RawLocalFs} (whose constructors are
 * package-private) that delegates to the shim instead.
 */
public class NioRawLocalFs extends DelegateToFileSystem {

  public NioRawLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(theUri, new NioRawLocalFileSystem(), conf,
        FsConstants.LOCAL_FS_URI.getScheme(), false);
  }

  @Override
  public int getUriDefaultPort() {
    return -1; // no default port for file:///
  }

  @Override
  @Deprecated
  public FsServerDefaults getServerDefaults() throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public FsServerDefaults getServerDefaults(Path f) throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public boolean isValidName(String src) {
    // the OS validates local names, as RawLocalFileSystem does
    return true;
  }
}
